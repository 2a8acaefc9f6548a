package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/**
 * JVM half of the benchmark: runs one workload against the program's public
 * API and writes `result.json` (measurements plus the outputs the Python
 * half checks) into the run directory. Started by `perfbench/run.py`.
 */
object Main {

  final case class Opts(
      workload: String, seed: Long, seconds: Double, trace: Boolean,
      out: String, cpus: Int, offHeapMb: Long, tables: String,
      zipfHosts: Int, zipfTop: Int, zipfLinks: Int,
      rounds: Int, queries: Seq[String])

  /** Everything one run reports back to run.py. */
  final class Ctx(val opts: Opts, val probe: Probe) {
    var firstCallMs = 0L
    var attempted = 0L
    var failed = 0L
    val e2e   = mutable.LinkedHashMap.empty[String, Double]
    val layer = mutable.LinkedHashMap.empty[String, Double]
    val check = mutable.LinkedHashMap.empty[String, String]
    def markFirstCall(): Unit =
      if (firstCallMs == 0L) firstCallMs = System.currentTimeMillis()
    def write(name: String, lines: Iterator[String]): Unit = {
      val w = Files.newBufferedWriter(Paths.get(opts.out, name), UTF_8)
      try lines.foreach { l => w.write(l); w.write('\n') } finally w.close()
    }
  }

  def session(o: Opts, probe: Probe): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${o.cpus}]")
      .appName(s"perfbench-${o.workload}")
      .config("spark.sql.shuffle.partitions", (o.cpus * 2).toString)
      .config("spark.local.dir", Paths.get(o.out, "spark-local").toString)
      .config("spark.sql.warehouse.dir", Paths.get(o.out, "warehouse").toString)
      .config("spark.memory.offHeap.enabled", "true")
      .config("spark.memory.offHeap.size", s"${o.offHeapMb}m")
      .config("spark.rdd.compress", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    if (probe.tracing) s.sparkContext.addSparkListener(probe)
    s
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    def get(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Opts(get("workload"), get("seed").toLong, get("seconds").toDouble,
      get("trace") == "1", get("out"), get("cpus").toInt,
      get("offheap-mb").toLong, m.getOrElse("tables", ""),
      get("zipf-hosts").toInt,
      get("zipf-top").toInt, get("zipf-links").toInt, get("rounds").toInt,
      m.getOrElse("queries", "").split(",").filter(_.nonEmpty).toSeq)
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val ctx = new Ctx(o, new Probe(o.trace))
    val gc0 = Probe.gcMs
    o.workload match {
      case "recrawl" => CrawlWorkloads.recrawl(ctx)
      case "queries" => QueryWorkload.run(ctx)
      case w => sys.error(s"unknown workload $w")
    }
    ctx.e2e("peak_rss_mb") = Probe.peakRssMb
    ctx.layer("jvm.gc_s") = (Probe.gcMs - gc0) / 1000.0
    if (o.trace) {
      ctx.write("spans.jsonl", ctx.probe.spansJson.iterator)
      ctx.write("callsites.tsv", ctx.probe.callSitesTsv.iterator)
    }
    def obj(m: collection.Map[String, Double]) =
      m.map { case (k, v) => Probe.str(k) + ":" + v }.mkString("{", ",", "}")
    val json =
      s"""{"first_call_ms":${ctx.firstCallMs},"attempted":${ctx.attempted},""" +
      s""""failed":${ctx.failed},"e2e":${obj(ctx.e2e)},""" +
      s""""layer":${obj(ctx.layer)},""" +
      s""""check":${ctx.check.map { case (k, v) => Probe.str(k) + ":" + v }
        .mkString("{", ",", "}")}}"""
    Files.write(Paths.get(o.out, "result.json"), json.getBytes(UTF_8))
  }
}
