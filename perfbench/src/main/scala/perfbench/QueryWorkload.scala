package perfbench

import java.nio.file.Paths
import scala.collection.mutable
import graft.SparkEntry
import perfbench.Main.{Ctx, median, secondsSince}

/** The `queries` workload: the listed `SparkEntry.queries` entries, each
  * written to parquet for the oracle check. */
object QueryWorkload {

  def run(ctx: Ctx): Unit = {
    val o = ctx.opts
    val spark = Main.session(o, ctx.probe)
    try {
      val names = o.queries
      names.foreach(n => require(SparkEntry.queries.contains(n), s"no query $n"))
      val p = ctx.probe
      def runQuery(name: String): Boolean = {
        spark.catalog.clearCache()
        val out = Paths.get(o.out, "results", name).toString
        try {
          p.span(s"SparkEntry.queries.$name") {
            SparkEntry.queries(name)(spark, o.tables)
              .write.mode("overwrite").parquet(out)
          }
          true
        } catch {
          case e: Exception =>
            System.err.println(s"[perfbench] $name failed: ${e.getMessage}")
            false
        }
      }
      // untimed warm-up pass, part of set-up: a query's first execution in
      // a session pays JIT, codegen and parquet-footer costs, which set-up
      // time shows; the timed passes below see warm executions only
      names.foreach(runQuery)
      val times = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
      val failedNames = mutable.LinkedHashSet.empty[String]
      p.drain(spark)
      val before = p.totals
      var passes = 0
      var cpuNs = 0L
      val start = System.nanoTime()
      ctx.markFirstCall()
      // at least three passes, so that each query's median rejects one
      // pass slowed by a burst on the host
      while (passes < 3 || secondsSince(start) < o.seconds) {
        names.foreach { name =>
          val c0 = Probe.cpuNs
          val t = System.nanoTime()
          val ok = runQuery(name)
          val wall = secondsSince(t)
          cpuNs += Probe.cpuNs - c0
          ctx.attempted += 1
          if (ok) times.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += wall
          else { ctx.failed += 1; failedNames += name }
        }
        passes += 1
      }
      spark.catalog.clearCache()
      p.drain(spark)
      val per = names.flatMap(n => times.get(n).map(ts => n -> median(ts.toSeq)))
      val walls = per.map(_._2)
      ctx.e2e("throughput_per_s") = walls.size / walls.sum
      ctx.e2e("latency_s") = math.exp(walls.map(math.log).sum / walls.size)
      ctx.e2e("cpu_ms_per_item") = cpuNs / 1e6 / (ctx.attempted - ctx.failed)
      per.foreach { case (n, s) => ctx.layer(s"queries.${n}_s") = s }
      val after = p.totals
      def total(i: Int): Double = after.toSeq.map { case (k, v) =>
        v(i) - before.getOrElse(k, Probe.Zero)(i)
      }.sum.toDouble / passes
      ctx.layer("queries.task_s") = total(Probe.TaskMs) / 1000.0
      ctx.layer("queries.gc_s") = total(Probe.GcMs) / 1000.0
      ctx.layer("queries.shuffle_mb") = total(Probe.ShuffleBytes) / 1048576.0
      ctx.layer("queries.spill_mb") = total(Probe.SpillBytes) / 1048576.0
      ctx.layer("spark.jobs") = total(Probe.Jobs)
      ctx.layer("spark.tasks") = total(Probe.Tasks)
      ctx.check("oracle") = names.map(n =>
        Probe.str(n) + ":" + Probe.str(SparkEntry.oracleSql(n)))
        .mkString("{", ",", "}")
      ctx.check("failed_queries") =
        failedNames.toSeq.map(Probe.str).mkString("[", ",", "]")
      ctx.check("passes") = passes.toString
      ctx.check("results") = Probe.str(Paths.get(o.out, "results").toString)
    } finally spark.stop()
  }
}
