package graftbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** One measured run of one workload. Records every timed operation
  * (pass, name, module, seconds, what it threw, where its result was
  * written), every untimed check, the set-up time, and — when traced —
  * layer counters and spans. */
final case class Run(a: Main.Args) {
  import Main._

  private val workload = a("workload")
  private val seed = a("seed").toLong
  private val seconds = a.int("seconds")
  private val traced = a("trace") == "1"
  private val cpus = a.int("cpus")
  private val corpus = a("corpus")
  private val prep = Paths.get(a("prep"))
  private val work = Paths.get(a("work"))
  private val stageRoot = Paths.get(graft.core.Staging.root)

  private val ops = ArrayBuffer[Map[String, Any]]()
  private val checks = ArrayBuffer[Map[String, Any]]()
  private val facts = mutable.LinkedHashMap[String, Any]()
  private var setupS = 0.0
  /** Query results, written for the oracle check once the window closes. */
  private val results = ArrayBuffer[(String, Result)]()

  private def op(pass: String, kind: String, name: String, module: String, sec: Double,
      error: Option[String], result: Option[Result] = None): Unit = {
    note(f"$pass $kind $name $sec%.3f s${error.fold("")(" FAILED: " + _)}")
    val dir = result.map { r => val d = s"results/${ops.length}"; results += d -> r; d }
    ops += Map("pass" -> pass, "kind" -> kind, "name" -> name, "module" -> module, "s" -> sec,
      "error" -> error.orNull, "result" -> dir.orNull)
  }

  private def query(pass: String, s: SparkSession, q: String, trace: Trace): Unit = {
    val (sec, got) = runQuery(s, corpus, q, trace, "query")
    op(pass, "query", q, modules(q), sec, got.left.toOption, got.toOption)
  }

  private def check(name: String, verdict: Option[String]): Unit =
    checks += Map("name" -> name, "ok" -> verdict.isEmpty, "error" -> verdict.orNull)

  private lazy val modules = moduleOf

  def run(): Unit = {
    val loadStart = loadavg()
    val trace = new Trace(traced)
    val s = setup()
    trace.attach(s)
    val (gc0, gcn0) = gcTotals()
    trace.startWindow()
    val (_, windowS) = trace.timed("workload", workload) {
      workload match {
        case "curation_session" => curation(s, trace)
        case "index_build" => indexBuild(s, trace)
        case other => sys.error(s"unknown workload $other")
      }
    }
    trace.endWindow()
    facts("window_s") = windowS
    val (gc1, gcn1) = gcTotals()
    facts("jvm.gc_s") = gc1 - gc0
    facts("jvm.gc_count") = gcn1 - gcn0
    trace.detach(s)
    if (traced) writeTrace(trace)
    results.foreach { case (d, r) => writeResult(s, r, work.resolve(d)) }
    val (_, clearS) = trace.timed("clear", "memos")(clearCaches())
    facts("memo.clear_s") = clearS
    s.stop()
    val out = Map(
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "trace" -> traced,
      "posture" -> Map(
        "nproc" -> cpus, "master" -> s"local[$cpus]", "shuffle_partitions" -> cpus,
        "spark" -> org.apache.spark.SPARK_VERSION, "java" -> sys.props("java.version"),
        "loadavg_start" -> loadStart, "loadavg_end" -> loadavg()),
      "setup_s" -> setupS, "ops" -> ops.toSeq, "checks" -> checks.toSeq,
      "facts" -> facts.toMap, "rss_peak_mb" -> rssPeakMb())
    json.writeValue(Paths.get(a("out")).toFile, out)
  }

  // ---------------------------------------------------------------- set-up

  /** The run's one set-up, in the fresh JVM: what every run pays before
    * its first operation. */
  private def setup(): SparkSession = {
    val t0 = System.nanoTime()
    val s = session(cpus, work)
    val tw = System.nanoTime()
    val t = graft.core.Tables(s, corpus)
    Seq(t.region, t.nation, t.customer, t.supplier, t.part, t.orders, t.lineitem,
      t.events, t.documents, t.embeddings).foreach(_.limit(1).collect())
    facts("tables.warm_s") = (System.nanoTime() - tw) / 1e9
    workload match {
      case "curation_session" =>
        check("stage store warm before timing",
          if (graft.core.Staging.isWarm(corpus)) None else Some("curation stage store is cold"))
      case "index_build" => deleteTree(stageRoot)
      case _ => ()
    }
    setupS = (System.nanoTime() - t0) / 1e9
    note(f"set-up done in $setupS%.2f s")
    s
  }

  private def memoSnapshot(s: SparkSession, pass: String): Unit = {
    val infos = s.sparkContext.getRDDStorageInfo
    facts(s"memo.$pass.cached_rdds") = infos.length
    facts(s"memo.$pass.cached_bytes") = infos.map(i => i.memSize + i.diskSize).sum
  }

  // ------------------------------------------------------- curation_session

  /** Queries measured per run: the query a quarter of the way through
    * each module's name order, so every module is in the pass (11 of 212,
    * sized to the run's time budget; the per-checkout sweep checks all 212). */
  private def curationSet: IndexedSeq[String] =
    modules.toSeq.groupBy(_._2).toSeq.sortBy(_._1).map { case (_, qs) =>
      val names = qs.map(_._1).sorted
      names(names.length / 4)
    }.toIndexedSeq

  private def curation(s: SparkSession, trace: Trace): Unit = {
    val set = curationSet
    val rnd = new scala.util.Random(seed)
    val before = treeStat(stageRoot)
    // fixed order: a fresh JVM charges its class loading to whichever query
    // runs first, so a seeded order would move that cost between queries
    set.foreach(query("first", s, _, trace))
    memoSnapshot(s, "first")
    rnd.shuffle(Run.zipfDraws(set, Run.RepeatPerSecond * seconds))
      .foreach(query("repeat", s, _, trace))
    memoSnapshot(s, "repeat")
    val after = treeStat(stageRoot)
    check("queries wrote nothing to the stage store",
      if (after == before) None
      else Some(s"${(after.keySet -- before.keySet).size} new files in the stage store"))
  }

  // ------------------------------------------------------------ index_build

  private val stageCalls: Seq[(String, SparkSession => Unit)] = Seq(
    "dedup" -> (s => graft.queries.Dedup.stageIndexes(s, corpus)),
    "positional" -> (s => graft.queries.Positional.stageIndexes(s, corpus)),
    "similarity" -> (s => graft.queries.Similarity.stageIndexes(s, corpus)),
    "text" -> (s => graft.queries.TextAnalysis.stageIndexes(s, corpus)),
    "media_table" -> (s => graft.multimodal.Multimodal.mediaTable(s, corpus)),
    "multimodal" -> (s => graft.queries.MultimodalQueries.stageIndexes(s, corpus)),
    "retrieval" -> (s => graft.queries.Retrieval.stageIndexes(s, corpus)))

  private def indexBuild(s: SparkSession, trace: Trace): Unit = {
    def pass(name: String): Unit = stageCalls.foreach { case (m, call) =>
      var err: Option[String] = None
      val (_, sec) = trace.timed("stage", m) {
        try call(s) catch { case NonFatal(e) => err = Some(s"threw ${e.getClass.getSimpleName}: ${e.getMessage}") }
      }
      op(name, "stage", m, m, sec, err)
    }
    pass("first")
    val built = treeStat(stageRoot)
    facts("staging.artifacts") = artifactNames(stageRoot).size
    facts("staging.files") = built.size
    facts("staging.bytes") = built.values.sum
    facts("staging.input_bytes") = treeStat(Paths.get(corpus)).values.sum
    // warm check with the memos cleared: the store, not the session, must
    // serve; the seven calls are the whole of StageIndexes.stageAll
    clearCaches()
    pass("repeat")
    val after = treeStat(stageRoot)
    val written = after.filter { case (f, n) => !built.get(f).contains(n) }
    check("warm stageAll writes nothing",
      if (written.isEmpty) None
      else Some(s"${written.size} files / ${written.values.sum} bytes written: ${written.keys.take(3).mkString(",")}"))
    // the per-checkout sweep checked every query against a store that
    // stageAll built from the same corpus: this build must hold the same artifacts
    val checked = json.readValue(prep.resolve("stage_artifacts.json").toFile, classOf[Seq[String]]).toSet
    val got = artifactNames(stageRoot)
    check("built the artifacts the sweep checked",
      if (got == checked) None
      else Some(s"missing ${(checked -- got).mkString(",")}; extra ${(got -- checked).mkString(",")}"))
    serveChurn(s, trace)
  }

  // ------------------------------------------- serving churn on the built index

  /** The online path after the build: the cell-partitioned serving index
    * is written, then a closed loop with one client runs over it. Each
    * cycle appends a seeded batch of vectors (`pqIngest` → cell-partitioned
    * append), then serves one seeded micro-batch through `pqServePruned`;
    * the index is compacted at the end and served once more. These ops
    * form their own pass, `serve`, so neither the build nor the warm check
    * carries serving cost. */
  private def serveChurn(s: SparkSession, trace: Trace): Unit = {
    import s.implicits._
    import graft.streaming.AnnStream
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.OutputMode
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val indexPath = work.resolve("serving_index").toString
    val (_, idxS) = trace.timed("stage", "serving_index") {
      graft.queries.Similarity.writeServingIndex(s, corpus, indexPath)
    }
    op("serve", "stage", "serving_index", "serving_index", idxS, None)
    val rnd = new scala.util.Random(seed)
    val centroids = graft.queries.Similarity.trainedCentroidArrays(s, corpus)
    val codebook = graft.queries.Similarity.pqCodebookArrays(s, corpus)
    val (nprobe, shortlist) = graft.queries.Similarity.pqServingDefaults
    val baseVecs = s.read.parquet(s"$corpus/embeddings.parquet")
      .select($"embedding").as[Array[Float]].collect()
    def pick(): Array[Float] = baseVecs(rnd.nextInt(baseVecs.length))
      .map(x => x + (rnd.nextGaussian() * Run.Jitter).toFloat)

    val inW = MemoryStream[AnnStream.VecEvent]
    val qw = AnnStream.pqIngest(inW.toDS(), centroids, codebook)
      .writeStream.format("memory").queryName("bench_ingest")
      .outputMode(OutputMode.Update()).start()
    val inR = MemoryStream[AnnStream.QueryEvent]
    val served = ArrayBuffer[AnnStream.ServeResult]()
    val qr = AnnStream.pqServePruned(inR.toDS(), indexPath, centroids, codebook,
      nprobe, shortlist) { ds => served ++= ds.collect() }.start()

    var nextProbe = 1L
    val sent = mutable.Map[Long, Option[Long]]() // probe -> appended vector it must find
    var lastIngested = IndexedSeq.empty[(Long, Array[Float])]
    def serve(): Unit = {
      val batch = (0 until Run.ServeBatch).map { i =>
        val (emb, must) =
          if (i == 0 && lastIngested.nonEmpty) {
            val (id, e) = lastIngested(rnd.nextInt(lastIngested.length)); (e, Some(id))
          } else (pick(), None)
        val p = nextProbe; nextProbe += 1
        sent(p) = must
        AnnStream.QueryEvent(src = 0, seq = p, probe = p, embedding = emb)
      }
      val (_, sec) = trace.timed("serve", s"serve-$nextProbe") {
        inR.addData(batch); qr.processAllAvailable()
      }
      op("serve", "serve", "serve", "AnnStream", sec, None)
    }
    var appended = 0L
    def ingest(cycle: Int): Unit = {
      val base = 1000000000L + cycle * 10000L
      val vecs = (0 until Run.IngestBatch).map(i => (base + i, pick()))
      val byId = vecs.toMap
      val (_, sec) = trace.timed("ingest", s"ingest-$cycle") {
        inW.addData(vecs.map { case (id, e) => AnnStream.VecEvent(src = 1, seq = id, vec_id = id, embedding = e) })
        qw.processAllAvailable()
        val rows = s.table("bench_ingest")
          .filter($"vec_id" >= base && $"vec_id" < base + 10000L)
          .select($"vec_id", $"cell", $"codes").as[(Long, Long, Array[Int])].collect()
          .map { case (id, cell, codes) =>
            val e = byId(id)
            AnnStream.IndexRow(id, cell, e.map(x => x.toDouble * x.toDouble).sum, codes, e)
          }
        appended += rows.length
        rows.toSeq.toDS().write.mode("append").partitionBy("cell").parquet(indexPath)
      }
      op("serve", "ingest", "ingest", "AnnStream", sec, None)
      lastIngested = vecs
    }

    (1 to Run.ChurnCycles).foreach { c => ingest(c); serve() }
    facts("serve.index_files") = treeStat(Paths.get(indexPath)).keys.count(_.endsWith(".parquet"))
    val (_, compactS) = trace.timed("compact", "compact") {
      graft.queries.Similarity.compactServingIndex(s, indexPath)
    }
    op("serve", "compact", "compact", "Similarity", compactS, None)
    lastIngested = IndexedSeq.empty
    serve()
    qw.stop(); qr.stop()

    val byProbe = served.groupBy(_.probe)
    check("every serve request answered", {
      val missing = sent.keySet -- byProbe.keySet
      if (missing.isEmpty) None else Some(s"${missing.size} of ${sent.size} requests unanswered")
    })
    check("answers are ranked top-k lists", {
      val bad = byProbe.filter { case (_, rs) =>
        val sorted = rs.sortBy(_.rank)
        sorted.map(_.rank) != (1 to rs.length) || rs.length > 5 ||
          sorted.sliding(2).exists(w => w.length == 2 && w(0).cos < w(1).cos)
      }
      if (bad.isEmpty) None else Some(s"${bad.size} malformed answers, e.g. probe ${bad.keys.head}")
    })
    check("a vector is servable the cycle after its append", {
      val lost = sent.collect { case (p, Some(id)) if !byProbe.getOrElse(p, Nil).exists(_.neighbor == id) => p }
      if (lost.isEmpty) None else Some(s"${lost.size} appended vectors not found by their own query")
    })
    check("every ingested vector appended", {
      val want = Run.ChurnCycles.toLong * Run.IngestBatch
      if (appended == want) None else Some(s"$appended of $want vectors appended")
    })
  }

  // ----------------------------------------------------------------- trace

  private def writeTrace(trace: Trace): Unit = {
    val (spans, kids) = trace.tree()
    facts("driver.self_s") = trace.driverSelfSeconds(spans, kids)
    Seq("spark.jobs", "spark.stages", "spark.tasks", "spark.failed_tasks", "spark.input_bytes",
      "spark.output_bytes", "spark.shuffle_read_bytes", "spark.shuffle_write_bytes", "spark.spill_bytes",
      "plan.executions", "plan.exchanges", "plan.file_scans", "plan.inmemory_scans", "stream.triggers")
      .foreach(k => facts(k) = trace.countOf(k))
    Seq("spark.task_run_s", "spark.task_cpu_s", "spark.task_gc_s", "spark.scheduler_delay_s",
      "plan.analysis_s", "plan.optimization_s", "plan.planning_s", "stream.trigger_ms",
      "stream.add_batch_ms", "stream.planning_ms", "stream.wal_commit_ms", "stream.commit_ms")
      .foreach(k => facts(k) = trace.sumOf(k))
    def rec(x: Trace.Span) = Map("id" -> x.id, "parent" -> x.parent, "kind" -> x.kind,
      "name" -> x.name, "start_us" -> x.startUs, "end_us" -> x.endUs)
    json.writeValue(Paths.get(a("spans")).toFile, (spans ++ kids).sortBy(_.startUs).map(rec))
  }
}

object Run {
  val RepeatPerSecond = 1

  /** `n` repeat draws over `set` with Zipf(1) popularity on a fixed rank
    * order, each query drawn its expected number of times (largest
    * remainder), so every seed repeats the same multiset of queries and
    * the seed only orders it. */
  def zipfDraws(set: IndexedSeq[String], n: Int): IndexedSeq[String] = {
    val ranked = set.sortBy(q => (q.hashCode, q))
    val w = ranked.indices.map(r => 1.0 / (r + 1))
    val exact = w.map(_ / w.sum * n)
    val base = exact.map(math.floor(_).toInt)
    val extra = exact.indices.sortBy(i => -(exact(i) - base(i))).take(n - base.sum).toSet
    ranked.indices.flatMap(i => Seq.fill(base(i) + (if (extra(i)) 1 else 0))(ranked(i)))
  }

  val Jitter = 1e-3
  /** Requests per serve micro-batch: with nprobe 4 over the corpus's 10
    * IVF cells, a batch probes fewer cells than exist. */
  val ServeBatch = 2
  val IngestBatch = 20
  val ChurnCycles = 1

}
