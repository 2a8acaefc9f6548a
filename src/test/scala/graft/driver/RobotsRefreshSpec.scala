package graft.driver

import java.nio.charset.StandardCharsets
import graft.SparkTestBase
import graft.core.{CrawlConfig, CrawlState, Step}
import graft.operators.CrawlRound
import org.apache.spark.sql.graft.SparkInternals

/**
 * TTL'd robots-slice refresh (VERDICT r3 ask #7): the robots gate input
 * is derived from the web view once and persisted; a robots.txt change
 * mid-crawl takes effect at the next TTL REFRESH — never at the next
 * round — and never requires re-scanning the web table per round.
 */
class RobotsRefreshSpec extends SparkTestBase {
  private val T0   = 1000000L
  private val Root = "http://hostr.example.org/"

  private def page(p: String) = Root + p

  private def entry(u: String, body: String,
                    ctype: String = "text/turtle"): (String, Step.WebEntry) =
    u -> Step.WebEntry(900000L, body.getBytes(StandardCharsets.UTF_8),
      graft.functions.Headers.renderHeaderBlock(200, ctype, None, None, Nil))

  /** Three directly-seeded pages + a robots.txt with the given rules. */
  private def web(robotsRules: String): Map[String, Step.WebEntry] = Map(
    entry(page("a0.ttl"), s"""<${page("a0.ttl")}> <http://purl.org/dc/terms/title> "a0" ."""),
    entry(page("a1.ttl"), s"""<${page("a1.ttl")}> <http://purl.org/dc/terms/title> "a1" ."""),
    entry(page("a2.ttl"), s"""<${page("a2.ttl")}> <http://purl.org/dc/terms/title> "a2" ."""),
    entry(Root + "robots.txt", robotsRules, ctype = "text/plain"))

  private val AllowAll    = "User-agent: *\nDisallow:\n"
  private val DisallowAll = "User-agent: *\nDisallow: /a\n"

  private def cfg: CrawlConfig = CrawlConfig(
    schemeWhitelist = Seq("http", "https"),
    ctypeWhitelist  = Seq("text/turtle"),
    robotsEnabled   = true)

  private def states(d: CrawlDriver): Map[String, String] =
    d.frontier.collect().map(f => f.url -> f.state).toMap

  // politeness floor: the host is eligible every OTHER logical second, so
  // the three seeded pages dequeue at T0, T0+2, T0+4 (url-ascending).

  test("a robots change does NOT take effect on the next round: with no " +
       "refresh due, later picks still follow the cached rules") {
    val d = new CrawlDriver(spark, cfg,
      CrawlRound.webFromMap(spark, web(AllowAll)), store = None,
      robotsTtl = 100L) // never due within this run
    d.seed(Seq(page("a0.ttl"), page("a1.ttl"), page("a2.ttl")), T0 - 1)
    d.run(T0, 1)                       // derive robots at T0; fetch a0
    d.updateWeb(CrawlRound.webFromMap(spark, web(DisallowAll)))
    d.run(T0 + 1, 4)                   // picks at T0+2 (a1), T0+4 (a2)
    val st = states(d)
    assert(st(page("a0.ttl")) == CrawlState.Accepted)
    assert(st(page("a1.ttl")) == CrawlState.Accepted,
      "pick after the swap but before any refresh must use the OLD rules")
    assert(st(page("a2.ttl")) == CrawlState.Accepted)
  }

  test("a robots change takes effect at the next TTL refresh: pre-refresh " +
       "pick allowed, post-refresh pick rejected") {
    val d = new CrawlDriver(spark, cfg,
      CrawlRound.webFromMap(spark, web(AllowAll)), store = None,
      robotsTtl = 4L) // derive at T0 → refresh due at T0+4
    d.seed(Seq(page("a0.ttl"), page("a1.ttl"), page("a2.ttl")), T0 - 1)
    d.run(T0, 1)                       // derive robots at T0; fetch a0
    d.updateWeb(CrawlRound.webFromMap(spark, web(DisallowAll)))
    d.run(T0 + 1, 4)                   // a1 at T0+2 (< TTL), a2 at T0+4
    val st = states(d)
    assert(st(page("a0.ttl")) == CrawlState.Accepted)
    assert(st(page("a1.ttl")) == CrawlState.Accepted,
      "within the TTL the cached (allowing) rules still apply")
    assert(st(page("a2.ttl")) == CrawlState.Rejected,
      "the T0+4 pick follows the refreshed (disallowing) rules")
  }

  test("DEFAULT ttl is one logical day (RFC 9309 24h cache expectation): " +
       "a robots change lands at now-derivedAt==86400, not one round late " +
       "and not never") {
    val d = new CrawlDriver(spark, cfg,
      CrawlRound.webFromMap(spark, web(AllowAll)), store = None)
    // four pages so picks land both sides of the day boundary
    val w0 = web(AllowAll) + entry(page("a3.ttl"),
      s"""<${page("a3.ttl")}> <http://purl.org/dc/terms/title> "a3" .""")
    d.updateWeb(CrawlRound.webFromMap(spark, w0))
    d.seed(Seq(page("a0.ttl"), page("a1.ttl"), page("a2.ttl"),
      page("a3.ttl")), T0 - 1)
    d.run(T0, 1)                       // derive robots at T0; fetch a0
    val w1 = web(DisallowAll) + entry(page("a3.ttl"),
      s"""<${page("a3.ttl")}> <http://purl.org/dc/terms/title> "a3" .""")
    d.updateWeb(CrawlRound.webFromMap(spark, w1))
    d.run(T0 + 2, 1)                   // within the day: cached rules
    d.run(T0 + 86398, 1)               // 2s before the boundary: cached
    d.run(T0 + 86400, 1)               // boundary: refreshed rules
    val st = states(d)
    assert(st(page("a0.ttl")) == CrawlState.Accepted)
    assert(st(page("a1.ttl")) == CrawlState.Accepted,
      "picks within the default day must use the cached (allowing) rules")
    assert(st(page("a2.ttl")) == CrawlState.Accepted,
      "2 logical seconds before the day boundary the cache still applies")
    assert(st(page("a3.ttl")) == CrawlState.Rejected,
      "at exactly +86400 the refreshed (disallowing) rules are in force — " +
      "pins the DEFAULT robotsTtl at one logical day")
  }

  test("close() releases the persisted robots slice: the cache manager " +
       "is empty afterwards") {
    spark.catalog.clearCache()
    val d = new CrawlDriver(spark, cfg,
      CrawlRound.webFromMap(spark, web(AllowAll)), store = None)
    d.seed(Seq(page("a0.ttl")), T0 - 1)
    d.run(T0, 1)
    assert(SparkInternals.cachedPlans(spark) > 0,
      "the robots slice is persisted while the driver runs")
    d.close()
    assert(SparkInternals.cachedPlans(spark) == 0)
  }

  test("an unblocking change also lands at the refresh boundary") {
    val d = new CrawlDriver(spark, cfg,
      CrawlRound.webFromMap(spark, web(DisallowAll)), store = None,
      robotsTtl = 4L)
    d.seed(Seq(page("a0.ttl"), page("a1.ttl"), page("a2.ttl")), T0 - 1)
    d.run(T0, 1)                       // a0 rejected under v1
    d.updateWeb(CrawlRound.webFromMap(spark, web(AllowAll)))
    d.run(T0 + 1, 4)
    val st = states(d)
    assert(st(page("a0.ttl")) == CrawlState.Rejected)
    assert(st(page("a1.ttl")) == CrawlState.Rejected,
      "still blocked before the refresh")
    assert(st(page("a2.ttl")) == CrawlState.Accepted,
      "unblocked once the refreshed slice is in force")
  }
}
