package graft
import java.nio.file.{Files, Paths}
import graft.tools.LocalSession
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = LocalSession("graft-verify", cpus, cpus, logLevel = "WARN")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // q00 oracle fixture: the serial simulator's trace over the same
    // fixture web, as ONE parquet FILE (not a dir — the gate's result
    // scan only picks up directories) the q00 oracle SQL reads back.
    val outAbs = new java.io.File(outDir).getAbsolutePath
    try {
      import spark.implicits._
      val tmp = s"$outAbs/_q00_expected_tmp"
      spark.createDataset(SparkEntry.expectedCrawlTrace())
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(f => f.getName.startsWith("part-") &&
                   f.getName.endsWith(".parquet"))
        .getOrElse(sys.error("no part file in simulator-trace dump"))
      Files.move(part.toPath, Paths.get(s"$outAbs/q00_expected.parquet"),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      new java.io.File(tmp).listFiles().foreach(_.delete())
      Files.deleteIfExists(Paths.get(tmp))
    } catch { case e: Throwable =>
      System.err.println(s"[verify] q00 oracle fixture failed: ${e.getMessage}")
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
      .map { case (k, v) =>
        s"${q(k)}: ${q(v.replace(SparkEntry.OutDirPlaceholder, outAbs))}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
