package graft.functions

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** Parity contract of the native `canon_key` expression (UrlKey.scala)
  * against the Scala reference it replaced in the discovered-URL hot
  * path: canon_key(s) ≡ Urls.canonicalKeyUrl(s).map(c ⇒ (urlHash(c), c)).
  * Exercises both the byte-level fast path and the String fall-through
  * (non-ASCII, fragments, dot-segments, ports, percent-escapes,
  * unparseable), plus a property sweep over generated URLs. */
class UrlKeySpec extends SparkTestBase {

  private def reference(s: String): Option[(String, String)] =
    Urls.canonicalKeyUrl(s).map(c => (Urls.urlHash(c), c))

  private def native(ss: Seq[String]): Seq[Option[(String, String)]] = {
    import spark.implicits._
    GraftFunctions.register(spark)
    ss.toDF("raw")
      .select(expr("canon_key(raw)").as("ck"))
      .select(col("ck.url_hash"), col("ck.url"))
      .collect()
      .map(r => if (r.isNullAt(0)) None
                else Some((r.getString(0), r.getString(1))))
      .toSeq
  }

  private val cases = Seq(
    // fast path: already canonical
    "http://h1.bench.example.org/seed.ttl",
    "https://a.example.org/x/y?q=1&r=2",
    "http://example.org/",
    "http://example.org/a_b~c-d/e.f",
    // slow path: needs canonicalization / stripping
    "http://Example.ORG/x",            // uppercase host
    "http://example.org",              // missing path
    "http://example.org/a/../b",       // dot segments
    "http://example.org/a/./b",
    "http://example.org/a/b/..",
    "http://example.org/x#frag",       // fragment
    "http://example.org:80/x",         // default port
    "http://example.org:8080/x",       // explicit port
    "http://example.org/%7Euser/",     // percent escape
    "http://user@example.org/x",       // userinfo
    "http://example.org/été",// non-ASCII path (multi-byte UTF-8)
    "http://é.example.org/x",     // non-ASCII host
    "ftp://example.org/x",             // non-http scheme
    "not a url",
    "",
    "http://",
    "http:///nohost")

  test("canon_key ≡ canonicalKeyUrl∘urlHash on the curated edge cases") {
    val got = native(cases)
    cases.zip(got).foreach { case (s, g) =>
      assert(g == reference(s), s"input '$s'")
    }
  }

  test("canon_key ≡ reference on a generated sweep (fast and slow forms)") {
    val rnd = new scala.util.Random(42)
    val hosts = Seq("h1.example.org", "EX.org", "a-b.c", "xü.org")
    val paths = Seq("/x/y.ttl", "/a/../b", "/q?k=v&j=2", "/x#f", "/.", "/",
      "/%41b", "/ok/_~-", "/é", "")
    val gen = for (_ <- 1 to 300) yield {
      val scheme = if (rnd.nextBoolean()) "http" else "https"
      s"$scheme://${hosts(rnd.nextInt(hosts.size))}${paths(rnd.nextInt(paths.size))}"
    }
    val got = native(gen)
    gen.zip(got).foreach { case (s, g) =>
      assert(g == reference(s), s"input '$s'")
    }
    // the sweep must exercise BOTH paths
    assert(gen.exists(s => Urls.canonicalKeyUrl(s).contains(s)))
    assert(gen.exists(s => reference(s).isEmpty) ||
           gen.exists(s => reference(s).exists(_._2 != s)))
  }

  test("a round's candidate plan computes canon_key once per outlink") {
    // a filter on a projected canon_key is pushed below the projection and
    // computes it again; CrawlRound.candidates must keep one
    import spark.implicits._
    GraftFunctions.register(spark)
    val outs = Seq(Seq("http://a.example.org/x", "not a url", ""),
      Seq("http://A.example.org/x", "http://b.example.org/")).toDF("outlinks")
    val cands = graft.operators.CrawlRound.candidates(outs)
    val plan = cands.queryExecution.optimizedPlan
    val keys = plan.collect { case p =>
      p.expressions.map(_.collect { case k: CanonKey => k }.size).sum }.sum
    assert(keys == 1, plan)
    assert(cands.collect().map(_.url).toSeq.sorted ==
      Seq("http://a.example.org/x", "http://b.example.org/"))
  }
}
