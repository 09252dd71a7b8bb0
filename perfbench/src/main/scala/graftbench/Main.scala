package graftbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** The benchmark's JVM side. `run.py` builds it, prepares the per-checkout
  * inputs (oracle fingerprints, the curation stage store) and launches one
  * `run` per measurement; this process writes raw per-operation records to
  * `--out` and `run.py` turns them into metrics.
  *
  * Query results are written as parquet, one directory per result, the
  * way `graft.Verify` writes them; `run.py` hashes them with
  * `tools/check_oracle.py`'s canonical hash against the DuckDB oracle.
  *
  * Modes:
  *  - `oracle-sql --prep P`: write the oracle SQL.
  *  - `prep --corpus C --prep P`: build the curation stage store and run
  *    every query once (sweep).
  *  - `run --workload W --seed N --seconds S --trace 0|1 ...`: one run.
  */
object Main {
  val json: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  /** The query modules `graft.SparkEntry.queries` aggregates, by name. */
  val queryModules: Seq[(String, Map[String, (SparkSession, String) => DataFrame])] = Seq(
    "Analytics" -> graft.queries.Analytics.queries,
    "MrQueries" -> graft.queries.MrQueries.queries,
    "TextAnalysis" -> graft.queries.TextAnalysis.queries,
    "Dedup" -> graft.queries.Dedup.queries,
    "Similarity" -> graft.queries.Similarity.queries,
    "KvQueries" -> graft.queries.KvQueries.queries,
    "MultimodalQueries" -> graft.queries.MultimodalQueries.queries,
    "Retrieval" -> graft.queries.Retrieval.queries,
    "GraphRank" -> graft.queries.GraphRank.queries,
    "Positional" -> graft.queries.Positional.queries,
    "RebuildPolicy" -> graft.queries.RebuildPolicy.queries)

  def moduleOf: Map[String, String] =
    graft.SparkEntry.queries.keys.map { q =>
      q -> queryModules.collectFirst { case (m, qs) if qs.contains(q) => m }.getOrElse("other")
    }.toMap

  /** The nine public memo resets. */
  def clearCaches(): Unit = {
    graft.queries.Dedup.clearCaches()
    graft.queries.Positional.clearCaches()
    graft.queries.Similarity.clearCaches()
    graft.queries.TextAnalysis.clearCaches()
    graft.queries.KvQueries.clearCaches()
    graft.queries.GraphRank.clearCaches()
    graft.queries.Retrieval.clearCaches()
    graft.queries.MultimodalQueries.clearCaches()
    graft.multimodal.Multimodal.clearCaches()
  }

  final case class Args(m: Map[String, String]) {
    def apply(k: String): String = m.getOrElse(k, sys.error(s"missing --$k"))
    def int(k: String): Int = apply(k).toInt
  }

  def parse(args: Array[String]): Args =
    Args(args.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap)

  def main(args: Array[String]): Unit = {
    val a = parse(args.tail)
    args.head match {
      case "oracle-sql" => oracleSql(a)
      case "prep" => Prep(a).run()
      case "run" => Run(a).run()
      case other => sys.error(s"unknown mode $other")
    }
  }

  private def oracleSql(a: Args): Unit = {
    val p = Paths.get(a("prep"))
    Files.createDirectories(p)
    json.writeValue(p.resolve("oracle_sql.json").toFile, graft.SparkEntry.oracleSql)
  }

  def session(cpus: Int, work: Path): SparkSession = {
    val s = graft.core.Tables.requiredConfs
      .foldLeft(SparkSession.builder()
        .master(s"local[$cpus]")
        .appName("graft-perfbench")
        .config("spark.sql.shuffle.partitions", cpus.toString)
        .config("spark.ui.enabled", "false")
        .config("spark.local.dir", work.resolve("spark-local").toString)
        .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)) {
        case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private val started = System.nanoTime()

  /** Progress line on stderr (the run's JVM log). */
  def note(msg: String): Unit =
    System.err.println(f"[perfbench ${(System.nanoTime() - started) / 1e9}%8.2f s] $msg")

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) org.apache.commons.io.FileUtils.deleteDirectory(p.toFile)

  /** Size of every regular file under `p`, keyed by its path relative to `p`. */
  def treeStat(p: Path): Map[String, Long] =
    if (!Files.exists(p)) Map.empty
    else {
      val st = Files.walk(p)
      try st.iterator().asScala.filter(Files.isRegularFile(_))
        .map(f => p.relativize(f).toString -> Files.size(f)).toMap
      finally st.close()
    }

  /** Names of the committed artifacts (directories holding `_SUCCESS`). */
  def artifactNames(root: Path): Set[String] = treeStat(root).keys
    .filter(_.endsWith("_SUCCESS")).map(p => Paths.get(p).getParent.getFileName.toString).toSet

  def loadavg(): String =
    try new String(Files.readAllBytes(Paths.get("/proc/loadavg"))).trim.split("\\s+").take(3).mkString(",")
    catch { case NonFatal(_) => "" }

  def rssPeakMb(): Double =
    try Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    catch { case NonFatal(_) => 0.0 }

  def gcTotals(): (Double, Long) = {
    val beans = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
    (beans.map(b => math.max(0L, b.getCollectionTime)).sum / 1e3,
      beans.map(b => math.max(0L, b.getCollectionCount)).sum)
  }

  type Result = (StructType, Array[Row])

  /** One query with every output column collected (timed): its seconds
    * and either its rows or what it threw. */
  def runQuery(s: SparkSession, corpus: String, name: String, trace: Trace, kind: String)
      : (Double, Either[String, Result]) = {
    val (got, sec) = trace.timed(kind, name) {
      try {
        val df = graft.SparkEntry.queries(name)(s, corpus)
        Right((df.schema, df.collect())): Either[String, Result]
      } catch { case NonFatal(e) =>
        Left(s"threw ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
      }
    }
    (sec, got)
  }

  /** Writes collected rows as one parquet file under `dir`, as `graft.Verify`
    * writes a query's result. */
  def writeResult(s: SparkSession, r: Result, dir: Path): Unit =
    s.createDataFrame(java.util.Arrays.asList(r._2: _*), r._1)
      .coalesce(1).write.mode("overwrite").parquet(dir.toString)
}

/** Per-checkout preparation: the curation stage store and one pass over
  * every query, each result written for the oracle check. */
final case class Prep(a: Main.Args) {
  import Main._

  def run(): Unit = {
    val prep = Paths.get(a("prep"))
    val corpus = a("corpus")
    val s = session(a.int("cpus"), prep.resolve("work"))
    graft.StageIndexes.stageAll(s, corpus)
    json.writeValue(prep.resolve("stage_artifacts.json").toFile,
      artifactNames(Paths.get(graft.core.Staging.root)).toSeq.sorted)
    // the sweep is a check, not a measurement: four client threads share
    // the session to keep the per-checkout preparation short
    val noTrace = new Trace(false)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    val sweep = try scala.concurrent.Await.result(scala.concurrent.Future.traverse(
      graft.SparkEntry.queries.keys.toSeq.sorted) { q =>
      scala.concurrent.Future {
        val (sec, got) = runQuery(s, corpus, q, noTrace, "query")
        val dir = s"sweep/$q"
        got.foreach(writeResult(s, _, prep.resolve(dir)))
        q -> Map("s" -> sec, "error" -> got.left.toOption.orNull,
          "result" -> got.toOption.map(_ => dir).orNull)
      }
    }, scala.concurrent.duration.Duration.Inf).toMap
    finally pool.shutdown()
    json.writeValue(prep.resolve("sweep.json").toFile, sweep)
    clearCaches()
    s.stop()
  }
}
