package graft

import java.nio.file.{Files, Paths}

/** Plan-audit main: dumps `explain("formatted")` for every query to
  * outDir/<name>.txt. Used to keep the §5 scale claims honest — pushdown
  * reaching the scan, broadcasts where intended, no surprise shuffles.
  * Runs on the bench session ([[GraftSession]], `SPARK_GRAFT_CPUS`
  * cores), so the dumps are the plans `Bench` times.
  * Usage: runMain graft.Explain <sfDir> <outDir> [query...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val outDir = if (args.length > 1) args(1) else "/tmp/graft_plans"
    val only = args.drop(2).toSet
    val spark = GraftSession.build(GraftSession.envCpus)
    Files.createDirectories(Paths.get(outDir))
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter(q => only.isEmpty || only.contains(q._1))
      .foreach { case (name, fn) =>
        try {
          val plan = fn(spark, sfDir).queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          Files.writeString(Paths.get(s"$outDir/$name.txt"), plan)
        } catch { case e: Throwable =>
          Files.writeString(Paths.get(s"$outDir/$name.txt"),
            s"EXPLAIN FAILED: ${e.getMessage}")
        }
      }
    spark.stop()
  }
}
