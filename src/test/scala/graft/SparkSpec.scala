package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs (one per suite, lazily created). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  def resource(name: String): String =
    getClass.getClassLoader.getResource(name).getPath

  /** Write a minimal documents table (en/t defaults) for planted-corpus
    * specs — the one place the documents schema boilerplate lives. */
  def writeDocTable(dir: String, docs: Seq[(Long, String)]): Unit = {
    import spark.implicits._
    import org.apache.spark.sql.functions.{length, lit}
    docs.toDF("doc_id", "text")
      .withColumn("lang", lit("en"))
      .withColumn("source", lit("t"))
      .withColumn("n_chars", length($"text"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
  }
}

object SparkSpec {
  // Rebuilt if a suite with its own context lifecycle (StragglerSpec
  // needs speculation confs, which are fixed at context creation) stopped
  // the shared one — suites run sequentially in the forked test JVM, so
  // handover is race-free.
  private var cached: SparkSession = null
  def session: SparkSession = synchronized {
    if (cached == null || cached.sparkContext.isStopped) cached = build()
    cached
  }

  /** The specs' session conf on `master`. The default, local[4, 4]: 4
    * threads, maxFailures=4 — task retry is live, so FaultToleranceSpec
    * can exercise E10 re-execution semantics (ref: mr/master.go:200-214)
    * instead of trusting them.
    */
  private[graft] def build(master: String = "local[4, 4]"): SparkSession =
    graft.core.Tables.session(master, 4, "spark.app.name" -> "graft-test")
}
