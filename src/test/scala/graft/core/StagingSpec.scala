package graft.core

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{CountDownLatch, LinkedBlockingQueue}
import java.util.concurrent.atomic.AtomicBoolean

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType

import graft.SparkSpec

/** Contract of the durable staged-index store ([[Staging]]):
  *  - an artifact is WRITTEN on first build and READ (same values) after,
  *  - a corpus regeneration (content change) MISSES — staging must never
  *    serve a previous generation's index against new data (the driver
  *    rewrites /root/testdata between rounds),
  *  - superseded generations are pruned, and only those of the same
  *    corpus,
  *  - staging failures degrade to the in-memory build, never to an error,
  *  - a committed artifact, and a table already opened in the session,
  *    opens without a Spark job (no schema inference);
  *  - concurrent builds ([[Staging.buildAll]]) all finish before a
  *    failure is rethrown, and commit what a sequential build commits.
  */
class StagingSpec extends SparkSpec {
  import spark.implicits._

  private def writeCorpus(dir: String, docs: Seq[(Long, String)]): Unit =
    docs.toDF("doc_id", "text").write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")

  /** `f`'s result and the Spark jobs it launches. A marker job run
    * afterwards closes the window: the listener bus delivers events in
    * order, so once the marker's start arrives, every earlier job's has.
    */
  private def withJobCount[A](f: => A): (A, Int) = {
    val sc = spark.sparkContext
    val starts = new LinkedBlockingQueue[Boolean]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        starts.put(Option(e.properties).exists(_.getProperty("staging.spec.marker") != null))
    }
    sc.addSparkListener(listener)
    try {
      val a = f
      sc.setLocalProperty("staging.spec.marker", "1")
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setLocalProperty("staging.spec.marker", null)
      (a, Iterator.continually(starts.take()).takeWhile(!_).size)
    } finally sc.removeSparkListener(listener)
  }

  private def slugOf(dir: String): String =
    Paths.get(dir).toAbsolutePath.normalize.toString
      .replaceAll("[^A-Za-z0-9.]+", "_").replaceAll("^_+", "").take(80)

  test("read-else-build stages once, then serves identical values") {
    assume(Staging.enabled, "staging disabled in this JVM")
    val dir = Files.createTempDirectory("staging_spec").toString
    writeCorpus(dir, (0L until 20L).map(i => (i, s"alpha beta gamma delta eps w$i x$i y$i z$i")))
    try {
      var builds = 0
      def once() = Staging.readElseBuild(spark, dir, "probe", Seq("documents")) {
        builds += 1
        spark.read.parquet(s"$dir/documents.parquet")
          .selectExpr("doc_id", "length(text) AS len")
      }
      val first = once().collect().map(r => (r.getLong(0), r.getInt(1))).toSet
      val second = once().collect().map(r => (r.getLong(0), r.getInt(1))).toSet
      assert(builds == 1, "second call must hit the staged copy, not rebuild")
      assert(first == second)
      assert(first.size == 20)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("a regenerated corpus misses the stale artifact and prunes it") {
    assume(Staging.enabled, "staging disabled in this JVM")
    val dir = Files.createTempDirectory("staging_gen").toString
    try {
      writeCorpus(dir, Seq((1L, "first generation text")))
      def count() = Staging.readElseBuild(spark, dir, "probe", Seq("documents")) {
        spark.read.parquet(s"$dir/documents.parquet").selectExpr("doc_id")
      }.count()
      assert(count() == 1)
      // regenerate with different content (different size => different
      // fingerprint even within one mtime tick)
      writeCorpus(dir, (0L until 5L).map(i => (i, s"second generation doc $i")))
      assert(count() == 5, "stale staged artifact served after corpus regeneration")
      // exactly one generation dir remains for this corpus slug
      val slugPrefix = slugOf(dir)
      val gens = Files.list(java.nio.file.Paths.get(Staging.root)).iterator().asScala
        .filter(_.getFileName.toString.startsWith(slugPrefix + "-")).toSeq
      assert(gens.size == 1, s"superseded generation not pruned: $gens")
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("concurrent builders race to one staged artifact with identical values") {
    assume(Staging.enabled, "staging disabled in this JVM")
    val dir = Files.createTempDirectory("staging_race").toString
    writeCorpus(dir, (0L until 30L).map(i => (i, s"race doc number $i body")))
    try {
      val results = new java.util.concurrent.ConcurrentLinkedQueue[Set[Long]]()
      val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      def run(): Unit =
        try results.add(
          Staging.readElseBuild(spark, dir, "race_probe", Seq("documents")) {
            spark.read.parquet(s"$dir/documents.parquet").selectExpr("doc_id")
          }.collect().map(_.getLong(0)).toSet)
        catch { case t: Throwable => errors.add(t) }
      val threads = (1 to 2).map(_ => new Thread(() => run()))
      threads.foreach(_.start()); threads.foreach(_.join())
      assert(errors.isEmpty, s"racing builder threw: ${errors.peek()}")
      val rs = results.asScala.toSeq
      assert(rs.size == 2 && rs.forall(_ == (0L until 30L).toSet))
      // exactly one committed artifact, no leftover temp dirs
      val slug = slugOf(dir)
      val gen = Files.list(java.nio.file.Paths.get(Staging.root)).iterator().asScala
        .filter(_.getFileName.toString.startsWith(slug + "-")).toSeq
      assert(gen.size == 1)
      val entries = Files.list(gen.head).iterator().asScala
        .map(_.getFileName.toString).toSeq
      assert(entries.count(_ == "race_probe") == 1)
      assert(!entries.exists(_.contains(".tmp-")), s"leftover temp: $entries")
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("staged artifacts reproduce the unstaged results across every family") {
    assume(Staging.enabled, "staging disabled in this JVM")
    // one corpus queried twice through the staging layer: cold
    // (build+write) then — after dropping every session memo but keeping
    // disk — warm (read-back). Warm results must equal cold results
    // value-for-value for a query from each staged family: minhash
    // bands, prefix pair tables, simhash bands, window index, cluster
    // labels, token accounting, curation survivors, media table.
    val dir = Files.createTempDirectory("staging_dedup").toString
    // full driver-table schema: tx_* needs lang, mm_* needs source
    locally {
      (0L until 40L).map { i =>
        val base = s"the quick brown fox jumps over lazy dog number ${i % 7} again and again"
        val text = if (i % 3 == 0) base else base + s" tail $i"
        (i, text, if (i % 5 == 0) "de" else "en", s"src${i % 3}", text.length)
      }.toDF("doc_id", "text", "lang", "source", "n_chars")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    }
    // small embeddings table so the ANN/PQ family participates
    locally {
      import org.apache.spark.sql.functions._
      val r = new scala.util.Random(5)
      (0L until 64L).map { i =>
        (i, Array.tabulate(256)(d => (r.nextGaussian() + (i % 4) * 2.0).toFloat), (i % 4).toInt)
      }.toDF("vec_id", "embedding", "label")
        .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    }
    val families = Seq("dedup_minhash_lsh", "dedup_jaccard_prefix",
      "dedup_simhash", "dedup_substring", "dedup_clusters",
      "tx_curation_packed", "tx_pack", "tx_unigram_logprob",
      "tx_dsir_weights", "tx_bigram_logprob", "tx_bpe_segment",
      "mm_features", "ann_pq_codes", "ann_pca_project")
    try {
      graft.core.Memo.clear()
      val cold = families.map(q =>
        q -> graft.SparkEntry.queries(q)(spark, dir)
          .collect().map(_.toString).sorted.toSeq).toMap
      graft.core.Memo.clear() // drop session memos, keep disk
      families.foreach { q =>
        val warm = graft.SparkEntry.queries(q)(spark, dir)
          .collect().map(_.toString).sorted.toSeq
        assert(cold(q) == warm, s"staged read-back changed $q results")
        assert(warm.nonEmpty || cold(q).isEmpty)
      }
    } finally {
      graft.core.Memo.clear()
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("two corpora sharing a truncated slug keep each other's generations") {
    assume(Staging.enabled, "staging disabled in this JVM")
    val base = Files.createTempDirectory("staging_slug")
    val long = base.resolve("c" * 100)
    val (a, b) = (long.resolve("a").toString, long.resolve("b").toString)
    assert(slugOf(a) == slugOf(b), "the corpora must share their slug")
    try {
      Seq(a, b).foreach(d => writeCorpus(d, Seq((1L, s"corpus $d"))))
      var builds = 0
      def stage(d: String) = Staging.readElseBuild(spark, d, "probe", Seq("documents")) {
        builds += 1
        spark.read.parquet(s"$d/documents.parquet").selectExpr("doc_id")
      }.count()
      stage(a); stage(b); stage(a); stage(b)
      assert(builds == 2, "staging one corpus pruned the other's generation")
      assert(Files.isDirectory(Staging.generationPath(a)))
      assert(Files.isDirectory(Staging.generationPath(b)))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(base.toFile)
  }

  test("opening a staged artifact or an opened table launches no Spark job") {
    assume(Staging.enabled, "staging disabled in this JVM")
    val dir = Files.createTempDirectory("staging_jobs").toString
    writeCorpus(dir, (0L until 20L).map(i => (i, s"doc $i")))
    try {
      val df = (0 until 20).map(i => (i.toLong, i % 3)).toDF("doc_id", "b")
      val (_, writeJobs) = withJobCount(df.write.parquet(s"$dir/plain_write"))
      var builds = 0
      def stage() = Staging.readElseBuild(spark, dir, "jobs_probe", Seq("documents")) {
        builds += 1
        df
      }
      assert(withJobCount(stage())._2 == writeJobs, "the cold read-back ran a job")
      Memo.clear()
      val (hit, hitJobs) = withJobCount(stage())
      assert(hitJobs == 0, "the hit ran a job")
      assert(builds == 1)
      assert(hit.schema == StructType(df.schema.map(_.copy(nullable = true))))
      assert(hit.as[(Long, Int)].collect().toSet == df.as[(Long, Int)].collect().toSet)
      Tables(spark, dir).documents
      assert(withJobCount(Tables(spark, dir).documents)._2 == 0,
        "a second table access ran a job")
    } finally {
      Memo.clear()
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("every artifact stageAll commits opens with its inferred schema") {
    assume(Staging.enabled, "staging disabled in this JVM")
    val dir = "perfbench/data/sf0.001"
    assume(Files.isDirectory(Paths.get(dir)), s"$dir not found")
    try {
      graft.StageIndexes.stageAll(spark, dir)
      val artifacts: Seq[Path] = Staging.withStream(Files.list(Staging.generationPath(dir)))(
        _.filter(p => Files.exists(p.resolve("_SUCCESS"))).toList)
      assert(artifacts.size >= 40, s"only ${artifacts.size} artifacts committed")
      artifacts.foreach { p =>
        val recorded = Staging.openStaged(spark, p).schema
        val inferred = spark.read.parquet(p.toString).schema
        assert(recorded == inferred,
          s"${p.getFileName}: recorded $recorded, inferred $inferred")
      }
    } finally Memo.clear()
  }

  test("buildAll waits for every build, then rethrows the failure") {
    val thrown = new CountDownLatch(1)
    val done = Seq.fill(2)(new AtomicBoolean(false))
    def slow(i: Int): () => Any = () => {
      thrown.await()
      spark.range(0, 1000, 1, 4).selectExpr("sum(id)").collect()
      done(i).set(true)
    }
    val e = intercept[IllegalStateException] {
      Staging.buildAll(spark)(
        slow(0),
        () => { thrown.countDown(); throw new IllegalStateException("planted") },
        slow(1))
    }
    assert(e.getMessage == "planted")
    assert(done.forall(_.get), "buildAll returned before every build finished")
    assert(spark.sparkContext.statusTracker.getActiveJobIds().isEmpty,
      "a build's Spark job outlived the call")
  }

  // Runs last in this suite: the sequential build needs a context whose
  // default parallelism is 1 (every buildAll then runs its builds in
  // line), so it stops the shared context; the next suite rebuilds it.
  test("a cold corpus staged concurrently commits what a sequential build commits") {
    assume(Staging.enabled, "staging disabled in this JVM")
    val src = new java.io.File("perfbench/data/sf0.001")
    assume(src.isDirectory, s"$src not found")
    val base = Files.createTempDirectory("staging_concurrent")
    val (concurrent, sequential) = (base.resolve("concurrent"), base.resolve("sequential"))
    Seq(concurrent, sequential).foreach(d =>
      org.apache.commons.io.FileUtils.copyDirectory(src, d.toFile))
    /** Each committed artifact of `dir`'s generation, as its sorted JSON
      * rows, array columns as stored. */
    def committed(s: SparkSession, dir: Path): Map[String, Seq[String]] =
      Staging.withStream(Files.list(Staging.generationPath(dir.toString)))(
        _.filter(p => Files.exists(p.resolve("_SUCCESS"))).toList)
        .map(p => p.getFileName.toString ->
          Staging.openStaged(s, p).toJSON.collect().sorted.toSeq)
        .toMap
    try {
      Memo.clear()
      graft.StageIndexes.stageAll(spark, concurrent.toString)
      Memo.clear()
      spark.stop()
      val one = graft.SparkSpec.build("local[1]")
      try {
        assert(one.sparkContext.defaultParallelism == 1)
        graft.StageIndexes.stageAll(one, sequential.toString)
        val (c, q) = (committed(one, concurrent), committed(one, sequential))
        assert(c.size >= 40, s"only ${c.size} artifacts committed")
        assert(c.keySet == q.keySet)
        val differ = c.keys.filter(n => c(n) != q(n)).toSeq.sorted
        assert(differ.isEmpty, s"rows differ in ${differ.mkString(", ")}")
      } finally {
        Memo.clear()
        one.stop()
      }
    } finally org.apache.commons.io.FileUtils.deleteDirectory(base.toFile)
  }
}
