package graft.core

import java.nio.file.{Files, Paths}
import java.sql.Timestamp
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import graft.SparkSpec

/** Contract of the session memo registry ([[Memo]]):
  *  - a corpus rewritten in place within one session is never served a
  *    memo of its predecessor — no `clearCaches()` call is needed;
  *  - `Memo.clear()` releases everything the memos hold: no cached RDD
  *    is left in block storage;
  *  - a miss is single-flight: a concurrent caller of the same key waits
  *    for the build and gets its value;
  *  - the registry is the only memo mechanism of the query modules.
  */
class MemoSpec extends SparkSpec {
  import spark.implicits._

  /** `n` seeded random-word documents, every third one a near-duplicate
    * of its predecessor (last word swapped), plus a matching events
    * table — every table the chosen queries read. */
  private def writeCorpus(dir: String, n: Int, seed: Int): Unit = {
    val rnd = new scala.util.Random(seed)
    val vocab = (0 until 300).map(i => s"w$i")
    var prev = Seq.empty[String]
    (0L until n.toLong).map { i =>
      val words =
        if (i % 3 == 1) prev.init :+ s"tail$i"
        else Seq.fill(12)(vocab(rnd.nextInt(vocab.size)))
      prev = words
      val text = words.mkString(" ")
      (i, text, if (i % 4 == 0) "de" else "en", s"src${i % 5}", text.length.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val types = Seq("signup", "purchase", "click", "view")
    (0L until (n / 2).toLong).map { i =>
      (i, new Timestamp(1700000000000L + i * 60000L), i % 40,
        types(rnd.nextInt(types.size)), rnd.nextDouble(), "{}")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
  }

  private def writeVecs(dir: String, n: Int): Unit = {
    val rnd = new scala.util.Random(7)
    (0L until n.toLong).map { i =>
      (i, Array.fill(16)(rnd.nextGaussian().toFloat), (i % 4).toInt)
    }.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
  }

  private def rows(q: String, dir: String): Seq[String] =
    graft.SparkEntry.queries(q)(spark, dir).collect().map(_.toString).sorted.toSeq

  private def tempDir(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  private def delete(dirs: String*): Unit =
    dirs.foreach(d => org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(d)))

  test("a corpus rewritten in-session gets fresh results without clearCaches") {
    // 600 → 2600 docs moves dedup_lsh_recall_sampled's anchor modulus
    // from 4 to 6; each query reads at least one memo of its module
    val queries = Seq("dedup_lsh_recall_sampled", "tx_unigram_logprob",
      "tx_phrase_search", "kv_gc")
    val dir = tempDir("memo_rewrite")
    val fresh = tempDir("memo_fresh")
    try {
      writeCorpus(dir, 600, seed = 1)
      val before = queries.map(q => q -> rows(q, dir)).toMap
      assert(Tables(spark, dir).documents.count() == 600)
      writeCorpus(dir, 2600, seed = 2)
      writeCorpus(fresh, 2600, seed = 2)
      assert(Tables(spark, dir).documents.count() == 2600, "the table handle kept the old corpus")
      queries.foreach { q =>
        val after = rows(q, dir)
        assert(after != before(q), s"$q: the rewrite must change the answer")
        assert(after == rows(q, fresh), s"$q served a memo of the old corpus")
      }
    } finally {
      Memo.clear()
      delete(dir, fresh)
    }
  }

  test("Memo.clear() leaves no cached RDD behind") {
    // one memo-backed query per memo-holding module (mm_pack reads both
    // MultimodalQueries' token table and Multimodal's media table)
    val queries = Seq("dedup_minhash_lsh", "tx_phrase_search", "ann_topk",
      "tx_unigram_logprob", "kv_gc", "gr_source_rank", "tx_bm25_topk",
      "mm_pack")
    val dir = tempDir("memo_clear")
    def storage = spark.sparkContext.getRDDStorageInfo
      .map(i => s"${i.name} (${i.numCachedPartitions} partitions)").toSeq
    try {
      writeCorpus(dir, 200, seed = 3)
      writeVecs(dir, 200)
      // start from empty block storage: earlier suites share this context
      Memo.clear()
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      assert(storage.isEmpty, s"could not empty block storage: $storage")
      queries.foreach(q => rows(q, dir))
      assert(storage.nonEmpty, "the queries persisted no memo")
      Memo.clear()
      assert(storage.isEmpty, s"Memo.clear() left cached RDDs: $storage")
    } finally {
      Memo.clear()
      delete(dir)
    }
  }

  test("two callers of one key build it once and get the same value") {
    val dir = tempDir("memo_flight")
    val builds = new AtomicInteger
    val (started, release) = (new CountDownLatch(1), new CountDownLatch(1))
    val got = new ConcurrentLinkedQueue[AnyRef]()
    def ask(): Unit = got.add(Memo(spark, dir, "MemoSpec.flight") {
      builds.incrementAndGet()
      started.countDown()
      release.await()
      new AnyRef
    })
    try {
      val first = new Thread(() => ask())
      first.start()
      started.await()
      val second = new Thread(() => ask())
      second.start()
      // the second caller waits on the key's lock while the build is open
      val deadline = System.nanoTime() + 10000000000L
      while (second.getState != Thread.State.BLOCKED && System.nanoTime() < deadline)
        Thread.sleep(5)
      val waiting = second.getState
      release.countDown()
      first.join(); second.join()
      assert(waiting == Thread.State.BLOCKED, "the second caller did not wait for the first build")
      assert(builds.get == 1)
      assert(got.size == 2 && got.asScala.toSet.size == 1, "the callers got different values")
    } finally {
      release.countDown()
      Memo.clear("MemoSpec")
      delete(dir)
    }
  }

  test("no query module keeps a memo of its own") {
    val roots = Seq("src/main/scala/graft/queries", "src/main/scala/graft/multimodal")
      .map(Paths.get(_))
    roots.foreach(r => assert(Files.isDirectory(r), s"$r not found from ${Paths.get("").toAbsolutePath}"))
    val offenders = roots.flatMap { r =>
      val files = Files.walk(r)
      try files.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally files.close()
    }.filter(p => new String(Files.readAllBytes(p), "UTF-8").contains("TrieMap"))
    assert(offenders.isEmpty,
      s"per-module memo maps are back (use graft.core.Memo): ${offenders.mkString(", ")}")
  }
}
