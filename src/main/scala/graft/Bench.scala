package graft
import org.apache.spark.sql.SparkSession

/** Driver-run benchmark: times every SparkEntry query on
  * SPARK_GRAFT_SF_DIR and prints one JSON line. Each query is timed
  * twice and the minimum reported — single runs on a shared machine
  * showed ±20-50% load noise, and min-of-2 is a far better estimate of
  * the query's actual cost. (The two runs share no Spark-side caching
  * except the session-scoped staged indexes that the queries would also
  * share in production.)
  */
object Bench {

  /** 1/5/15-minute system load as "a,b,c" — sampled at phase boundaries
    * so the artifact itself shows whether a slow reading coincided with
    * machine load (the load-vs-regression dispute has otherwise needed a
    * human re-run to settle).
    */
  private def loadavg(): String =
    try scala.io.Source.fromFile("/proc/loadavg").mkString
      .trim.split("\\s+").take(3).mkString(",")
    catch { case scala.util.control.NonFatal(_) => "" }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val loadStart = loadavg()
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = graft.core.Tables.session(s"local[$cpus]", cpus.toInt)
    // warm up codegen/JIT + file listing so the first timed query is not
    // charged for one-off session costs
    spark.range(1000000).selectExpr("sum(id)").collect()
    try SparkEntry.entry(spark).count()
    catch { case scala.util.control.NonFatal(_) => () }
    // touch every table at the bench SF dir so parquet footer parsing,
    // vectorized-reader init, and scan codegen don't land in whichever
    // query the Map iteration happens to time first (e3_fnv_bucket was
    // charged ~4.5 s of this in the r8 artifact)
    try {
      val warm = graft.core.Tables(spark, sfDir)
      Seq(warm.region, warm.nation, warm.customer, warm.supplier, warm.part,
        warm.orders, warm.lineitem, warm.events, warm.documents, warm.embeddings)
        .foreach(df => df.limit(1).collect())
    } catch { case scala.util.control.NonFatal(_) => () }
    // pre-stage the durable dedup/ANN index artifacts (read-else-build,
    // graft.core.Staging): production queries consume STORED indexes built
    // once per corpus generation by the index-build job, so the bench
    // times that steady state — an uncharged one-off here when the stage
    // store is cold, a footer read when warm. SPARK_GRAFT_PRESTAGE=0
    // skips the full stageAll (e.g. probing ONE query on a huge replica
    // corpus, where queries stage exactly what they touch)
    val stageWarm = graft.core.Staging.isWarm(sfDir)
    var stageSec = -1.0
    if (!sys.env.get("SPARK_GRAFT_PRESTAGE").contains("0"))
      try {
        val t0 = System.nanoTime()
        StageIndexes.stageAll(spark, sfDir)
        stageSec = math.rint((System.nanoTime() - t0) / 1e6) / 1e3
        // surfaced so the artifact shows what the index-build job cost
        // (cold store) or that the store was warm (~seconds)
        println(s"""{"metric":"stage_indexes","value":$stageSec,"unit":"sec","warm_at_start":$stageWarm,"sf":"$sfDir"}""")
      } catch { case scala.util.control.NonFatal(_) => () }
    // a failing query reports -1, never its time-to-failure; fatal errors
    // (OOM etc.) propagate and fail the bench loudly instead of scoring -1
    def time(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      val t0 = System.nanoTime()
      try { fn(spark, sfDir).count(); (System.nanoTime() - t0) / 1e9 }
      catch { case scala.util.control.NonFatal(_) => -1.0 }
    }
    // SPARK_GRAFT_ONLY=q1,q2 restricts to named queries and
    // SPARK_GRAFT_REPS=n takes min-of-n (default 2) — for re-measuring a
    // suspected regression without paying for the full suite
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").map(_.trim).toSet)
    // clamp: reps <= 0 would make ts.min throw on an empty Seq, and a
    // non-numeric value would kill the whole artifact over an env-var typo
    val reps =
      math.max(1, sys.env.getOrElse("SPARK_GRAFT_REPS", "2").toIntOption.getOrElse(2))
    // a typo'd ONLY list silently selecting zero queries would print
    // total=0, which reads like a clean fast run — fail loudly instead
    only.foreach { names =>
      val unknown = names -- SparkEntry.queries.keySet
      if (unknown.nonEmpty)
        sys.error(s"SPARK_GRAFT_ONLY names unknown queries: ${unknown.toSeq.sorted.mkString(",")}")
    }
    val selected = SparkEntry.queries.filter { case (n, _) => only.forall(_.contains(n)) }
    // keep EVERY rep, not just the min: the artifact then carries its own
    // adjudication evidence — a query whose reps read [4.4, 0.7] was hit
    // by transient load on one rep, one reading [4.4, 4.3] regressed
    val allReps = selected.map { case (name, fn) =>
      name -> Seq.fill(reps)(time(fn))
    }
    val loadAfterLocal = loadavg()
    val results = allReps.map { case (name, ts) =>
      name -> (if (ts.exists(_ < 0)) -1.0 else ts.min)
    }
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = results.values.filter(_ >= 0).sum
    // The driver captures only a ~2.2 KB tail of stdout, so a single line
    // carrying the full per-query map gets its head (with the headline
    // total) truncated away. Print the full map first on its own line,
    // then a LAST compact line — total + slowest 5 — small enough to
    // always survive the tail capture.
    println(s"""{"metric":"queries_full","queries":$qs,"sf":"$sfDir"}""")
    val slowest = results.toSeq.filter(_._2 >= 0).sortBy(-_._2).take(5)
      // locale-free formatting: the f interpolator uses the JVM default
      // locale, and a comma decimal separator would break the JSON
      .map { case (k, v) => s"\"" + k + "\":" + (math.rint(v * 1000) / 1000).toString }
      .mkString("{", ",", "}")
    val nFail = results.values.count(_ < 0)
    // ---- local-cluster phase: re-time the heaviest queries on a real
    // standalone master + 2 workers (separate executor JVMs), so results
    // cross serialization + netty shuffle instead of local[32]'s
    // in-process shortcuts — the honest posture check for the "runs on a
    // cluster" claim. Opt out with SPARK_GRAFT_CLUSTER=0.
    // Min-of-reps with every rep kept, same as the local phase: fresh
    // executor JVMs pay the full codegen/JIT/classload cost on rep 1
    // (the local-phase rep data shows 2-10× rep1/rep2 skew), so a
    // single-shot cluster number can't separate plan regression from
    // cold-start — the r11 driver read 99.5 s here against a 34.5 s
    // same-tree idle confirm purely on that skew + load.
    val clusterReps: Seq[(String, Seq[Double])] =
      if (sys.env.get("SPARK_GRAFT_CLUSTER").contains("0")) Seq.empty
      else try {
        val heaviest = results.toSeq.filter(_._2 >= 0).sortBy(-_._2)
          .take(10).map(_._1)
        spark.stop()
        val cs = graft.core.Tables.session("local-cluster[2,8,4096]", 16,
          "spark.executor.memory" -> "4g",
          "spark.executor.extraClassPath" -> sys.props("java.class.path"))
        cs.range(1000000).selectExpr("sum(id)").collect() // executors up + JIT
        heaviest.map { name =>
          name -> Seq.fill(reps) {
            val t0 = System.nanoTime()
            try { SparkEntry.queries(name)(cs, sfDir).count(); (System.nanoTime() - t0) / 1e9 }
            catch { case scala.util.control.NonFatal(_) => -1.0 }
          }
        }
      } catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[bench] cluster phase failed: ${e.getMessage}")
        Seq.empty
      }
    val clusterQueries: Map[String, Double] = clusterReps.map { case (name, ts) =>
      name -> (if (ts.exists(_ < 0)) -1.0 else ts.min)
    }.toMap
    val cq = clusterQueries.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val crepsJson = clusterReps.map { case (k, ts) =>
      "\"" + k + "\":[" + ts.map(t => (math.rint(t * 1000) / 1000).toString)
        .mkString(",") + "]"
    }.mkString("{", ",", "}")
    val clusterTotal = clusterQueries.values.filter(_ >= 0).sum
    val loadAfterCluster = loadavg()
    val clusterLine =
      s"""{"metric":"cluster","master":"local-cluster[2,8,4096]","value":$clusterTotal,"unit":"sec","reps":$reps,"queries":$cq,"cluster_reps":$crepsJson,"load_after_cluster":"$loadAfterCluster","sf":"$sfDir"}"""
    if (clusterQueries.nonEmpty) println(clusterLine)
    val loadEnd = loadavg()
    val compact =
      s"""{"metric":"total","value":$total,"unit":"sec","n_queries":${results.size},"n_failed":$nFail,"slowest":$slowest,"cluster_total":$clusterTotal,"cluster_n":${clusterQueries.size},"reps":$reps,"stage_warm":$stageWarm,"stage_sec":$stageSec,"load_start":"$loadStart","load_after_local":"$loadAfterLocal","load_end":"$loadEnd","sf":"$sfDir"}"""
    println(compact)
    // The stdout compact line depends on the driver's ~2.2 KB tail
    // capture surviving sbt's [info]/[success] wrappers — which it has
    // not, three rounds running. Persist the same signal to a file so
    // the artifact no longer depends on any stdout parser. Full map in
    // the file too: no size limit applies there.
    val repsJson = allReps.map { case (k, ts) =>
      "\"" + k + "\":[" + ts.map(t => (math.rint(t * 1000) / 1000).toString)
        .mkString(",") + "]"
    }.mkString("{", ",", "}")
    // restricted (SPARK_GRAFT_ONLY) spot-checks default to their own
    // file: the full-suite artifact is the committed band evidence, and
    // a one-query re-measure must not clobber it (it did once — the r12
    // mm_pack re-band erased the 162-query run + first cluster bands
    // from the working tree; recovered from git, rule encoded here)
    val defaultSummary =
      if (only.isDefined) "bench_summary_only.json" else "bench_summary.json"
    val summaryPath = java.nio.file.Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_SUMMARY", defaultSummary))
    java.nio.file.Files.write(summaryPath,
      (compact + "\n" + s"""{"metric":"queries_full","queries":$qs,"sf":"$sfDir"}"""
        + "\n" + s"""{"metric":"reps_full","reps":$repsJson,"sf":"$sfDir"}"""
        + (if (clusterQueries.nonEmpty) "\n" + clusterLine else "") + "\n")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    org.apache.spark.sql.SparkSession.getActiveSession.foreach(_.stop())
  }
}
