package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loader for the driver-generated parquet tables (TESTDATA.md).
  *
  * Every query in the library takes `(SparkSession, sfDir)` and resolves
  * tables through here, so filters/projections stay declarative and reach
  * the parquet scan (predicate pushdown + column pruning).
  *
  * Each table handle is a session memo ([[Memo]], `Tables.<name>`): the
  * schema-inference job Spark runs on opening a parquet path runs once
  * per corpus generation, not on every access.
  */
final case class Tables(spark: SparkSession, dir: String) {
  def table(name: String): DataFrame =
    Memo(spark, dir, s"Tables.$name")(spark.read.parquet(s"$dir/$name.parquet"))

  /** events.parquet's `ts` column layout has drifted across testdata
    * generations — TIMESTAMP(NANOS) (which Spark's vectorized reader only
    * surfaces as a nanos long under [[Tables.NanosAsLong]]) and plain
    * TIMESTAMP_MICROS have both been observed. Branch on the dtype the scan
    * actually produced rather than assuming one layout, and normalize to
    * session-zoned [[TimestampType]] so every downstream query sees the same
    * type either way (sessions run UTC, so the NTZ cast is value-preserving
    * and matches DuckDB's read of the same file).
    */
  def events: DataFrame = Tables.normalizeEventTs(table("events"))

  def region: DataFrame     = table("region")
  def nation: DataFrame     = table("nation")
  def customer: DataFrame   = table("customer")
  def supplier: DataFrame   = table("supplier")
  def part: DataFrame       = table("part")
  def orders: DataFrame     = table("orders")
  def lineitem: DataFrame   = table("lineitem")
  def documents: DataFrame  = table("documents")
  def embeddings: DataFrame = table("embeddings")
}

object Tables {
  val NanosAsLong = "spark.sql.legacy.parquet.nanosAsLong"

  /** Normalize an events frame's `ts` to session-zoned TimestampType,
    * whatever layout the scan produced (see [[Tables.events]]). Works on
    * batch and streaming DataFrames alike — streaming readers must apply
    * it too, or a data-contract drift splits batch/stream behavior.
    */
  def normalizeEventTs(raw: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    raw.schema("ts").dataType match {
      case LongType         => raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType => raw.withColumn("ts", col("ts").cast(TimestampType))
      case _                => raw
    }
  }

  /** Session-build confs the table loaders rely on; [[session]] applies
    * them — mutating the session conf inside a getter was a side effect
    * that surprised callers, so it lives here instead.
    *
    * UTC is load-bearing, not cosmetic: [[normalizeEventTs]]'s NTZ branch
    * casts to session-zoned TimestampType, which is value-preserving only
    * when the session zone is UTC. Any entry point that reads events must
    * apply this map, or an NTZ-layout file silently shifts every
    * events-derived result on a non-UTC host.
    */
  val requiredConfs: Map[String, String] = Map(
    NanosAsLong                   -> "true",
    "spark.sql.session.timeZone"  -> "UTC",
    // a probed-word list (queries × ≤3 terms) must reach parquet as a
    // real In predicate for row-group/dictionary pruning on the
    // word-bucketed positional layout; past this threshold Spark
    // degrades In to a min/max range, which prunes nothing when probe
    // words span the alphabet
    "spark.sql.parquet.pushdown.inFilterThreshold" -> "4096")

  /** The session every main and spec builds: `master` with
    * [[requiredConfs]], `shufflePartitions` shuffle partitions, the UI
    * off, then `extra` confs; logging at WARN. */
  def session(master: String, shufflePartitions: Int,
      extra: (String, String)*): SparkSession = {
    val s = (requiredConfs.toSeq ++ extra)
      .foldLeft(SparkSession.builder().master(master)
        .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
        .config("spark.ui.enabled", "false")) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
