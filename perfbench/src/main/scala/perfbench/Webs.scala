package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import org.apache.spark.sql.{Dataset, SparkSession}
import graft.core.Step
import graft.operators.CrawlRound.WebRow

/**
 * The synthetic web the crawl workload fetches. Every page is Turtle whose
 * URIs are a pure function of (seed, page); `perfbench/webs.py` writes the
 * same pages independently for the correctness checks.
 */
object Webs {

  val Title = "http://purl.org/dc/terms/title"
  val Refs  = "http://purl.org/dc/terms/references"
  val OkTurtle = "HTTP/1.1 200 OK\r\nContent-Type: text/turtle\r\n"
  val WarcTs = 900000L

  def mix(x: Long): Long = {
    var h = x * 0x9e3779b97f4a7c15L
    h ^= (h >>> 32); h *= 0xbf58476d1ce4e5b9L; h ^= (h >>> 29)
    h & Long.MaxValue
  }

  /** Seed-dependent salt, so different seeds draw different link graphs. */
  def salt(seed: Long): Long = mix(seed + 0x632be59bd9b4e019L)

  private def page(self: String, title: String, targets: Iterator[String])
      : String = {
    val sb = new StringBuilder(1024)
    sb.append(s"""<$self> <$Title> "$title" .\n""")
    targets.foreach(t => sb.append(s"<$self> <$Refs> <$t> .\n"))
    sb.toString
  }

  // -------------------------------------------------------------- Zipf web
  // `hosts` hosts; host h serves max(2, top / (h + 1)) pages, so host 0 is
  // a mega-host. Pages link `links` pages drawn uniformly from the whole
  // bounded web: the frontier grows towards every page while most
  // discovered links are already seen. Seeds are page 0 of every host.

  final case class ZipfWeb(seed: Long, hosts: Int, top: Int, links: Int) {
    private val s = salt(seed)
    val offsets: Array[Long] =
      (0 until hosts).scanLeft(0L)((o, h) => o + math.max(2, top / (h + 1)))
        .toArray
    def pages: Long = offsets(hosts)
    def hostOf(d: Long): Int = {
      val i = java.util.Arrays.binarySearch(offsets, d)
      if (i >= 0) i else -i - 2
    }
    def url(d: Long): String = {
      val h = hostOf(d)
      s"http://z$h.s$seed.zipf.test/p${d - offsets(h)}.ttl"
    }
    def body(d: Long): String = page(url(d), s"Zipf page $d",
      Iterator.range(0, links).map(j => url(mix(s ^ (d * 197 + j * 13 + 7)) % pages)))
    def seedUrls: Seq[String] = (0 until hosts).map(h => url(offsets(h)))

    def web(spark: SparkSession): Dataset[WebRow] = {
      import spark.implicits._
      val w = this
      spark.range(pages).map(d =>
        WebRow(w.url(d), WarcTs, w.body(d).getBytes(UTF_8), OkTurtle))
    }
    def seeds(spark: SparkSession): Dataset[String] = {
      import spark.implicits._
      seedUrls.toDS()
    }
    /** The same web as the serial simulator's input map. */
    def simWeb: Map[String, Step.WebEntry] =
      (0L until pages).iterator.map(d =>
        url(d) -> Step.WebEntry(WarcTs, body(d).getBytes(UTF_8), OkTurtle))
        .toMap
  }
}
