package graft

import org.apache.spark.sql.SparkSession

/** Index-build entry point: force-build every durable staged artifact
  * ([[graft.core.Staging]]) for a corpus dir — the standalone "build the
  * indexes" job of a production ingest loop, separated from the queries
  * that consume them (the reference's analogue: the map phase persisting
  * `mr-X-Y` intermediates for the reduce phase, `mr/worker.go:63`).
  *
  *   sbt "runMain graft.StageIndexes /root/testdata/sf0.1"
  *
  * Re-running is cheap (read-else-build): artifacts for an unchanged
  * corpus generation are detected and left in place.
  */
object StageIndexes {

  /** Stage every dedup + ANN + text-accounting + media artifact for
    * `dir`: the seven module builds run concurrently, each building its
    * own artifacts concurrently ([[graft.core.Staging.buildAll]]).
    */
  def stageAll(s: SparkSession, dir: String): Unit =
    graft.core.Staging.buildAll(s)(
      () => graft.queries.Dedup.stageIndexes(s, dir),
      () => graft.queries.Positional.stageIndexes(s, dir),
      () => graft.queries.Similarity.stageIndexes(s, dir),
      () => graft.queries.TextAnalysis.stageIndexes(s, dir),
      () => graft.multimodal.Multimodal.mediaTable(s, dir),
      () => graft.queries.MultimodalQueries.stageIndexes(s, dir),
      () => graft.queries.Retrieval.stageIndexes(s, dir))

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse(
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.core.Tables.session(s"local[$cpus]", cpus.toInt)
    val t0 = System.nanoTime()
    stageAll(spark, dir)
    val sec = (System.nanoTime() - t0) / 1e9
    println(f"""{"metric":"stage_indexes","value":$sec%.3f,"unit":"sec","sf":"$dir","root":"${graft.core.Staging.root}"}""")
    spark.stop()
  }
}
