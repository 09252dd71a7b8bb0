package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional dev-only 3rd arg: comma-separated query-name filter for
    // fast single-query iteration (the driver always passes two args)
    val only = args.lift(2).map(_.split(",").toSet)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = graft.core.Tables.session(s"local[$cpus]", cpus.toInt)
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        // Leave a durable per-query marker: without it an erred query
        // simply has no output dir and silently vanishes from the driver's
        // correctness artifact (r8 shrank 119->84 with zero err entries).
        // Markers live under errors/ (not next to the per-query output
        // dirs, where a driver globbing outDir entries could trip on a
        // non-directory entry), and a mid-write partial output dir is
        // removed first so the same query never presents both.
        try {
          val partial = Paths.get(s"$outDir/$name")
          if (Files.exists(partial)) {
            import scala.jdk.CollectionConverters._
            Files.walk(partial).sorted(java.util.Comparator.reverseOrder())
              .iterator().asScala.foreach(Files.delete)
          }
          Files.createDirectories(Paths.get(s"$outDir/errors"))
          Files.writeString(
            Paths.get(s"$outDir/errors/$name.error"),
            s"${e.getClass.getName}: ${e.getMessage}")
        } catch { case _: Throwable => () }
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
