package graft.tools

import java.nio.file.{Files, Paths}
import graft.SparkEntry

/** Dump `.explain("formatted")` of declared queries to files — the
  * before/after plan evidence for optimization rounds (plans/rNN/).
  *
  * Usage: runMain graft.tools.PlanDumpQ <outDir> <suffix> <q1,q2,...|all>
  * Writes <outDir>/<query>_<suffix>.txt for each query. Session matches
  * the benchmark's query session on this machine (local[cores], 2 × cores
  * shuffle partitions, AQE on by default) so the initial plans match what
  * perfbench executes.
  */
object PlanDumpQ {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: PlanDumpQ <outDir> <suffix> <q1,...|all>")
    val outDir = Paths.get(args(0))
    val suffix = args(1)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val names: Seq[String] =
      if (args(2) == "all")
        SparkEntry.queries.keys.filterNot(_ == "q00_crawl_trace").toSeq.sorted
      else args(2).split(",").toSeq
    Files.createDirectories(outDir)
    val cpus = Runtime.getRuntime.availableProcessors
    val spark = LocalSession("graft-plandumpq", cpus, cpus * 2)
    try {
      names.foreach { name =>
        val fn = SparkEntry.queries.getOrElse(name,
          sys.error(s"unknown query $name"))
        val df = fn(spark, sfDir)
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
        Files.writeString(outDir.resolve(s"${name}_$suffix.txt"), plan)
        println(s"[plandumpq] wrote ${name}_$suffix.txt")
      }
    } finally spark.stop()
  }
}
