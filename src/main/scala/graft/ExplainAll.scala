package graft

import org.apache.spark.sql.execution.FormattedMode

/** Plan-audit tool: dumps the formatted physical plan of every query in
  * [[SparkEntry.queries]] (dev tool; see PLANS.md for the reviewed
  * conclusions). Usage: runMain graft.ExplainAll [sfDir]
  */
object ExplainAll {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = graft.core.Tables.session("local[4]", 4)
    spark.sparkContext.setLogLevel("ERROR")
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      println(s"===== $name =====")
      try println(fn(spark, dir).queryExecution.explainString(FormattedMode))
      catch { case e: Throwable => println(s"explain failed: ${e.getMessage}") }
    }
    spark.stop()
  }
}
