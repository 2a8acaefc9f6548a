package graft.tools

import graft.driver.CrawlDriver
import graft.operators.CrawlRound
import graft.sim.FixtureWeb
import graft.tables.SnapshotStore

/**
 * End-to-end demo / smoke CLI: runs the crawl loop over the deterministic
 * fixture web with durable snapshots, prints the dequeue trace and final
 * metrics, then proves checkpoint-resume by reloading from the store with
 * a fresh driver (the Spark analog of `crawld -t` one-shot mode +
 * `crawl-locate`; reference: crawler/crawld.c:161-174).
 *
 * Usage: runMain graft.tools.CrawlDemo <snapshotDir> [rounds]
 */
object CrawlDemo {
  def main(args: Array[String]): Unit = {
    val snapDir = args.headOption.getOrElse("/tmp/graft-demo-snapshots")
    val rounds  = args.lift(1).map(_.toInt).getOrElse(16)
    val spark = LocalSession("graft-crawl-demo")

    val T0  = 1000000L
    val cfg = FixtureWeb.config()
    val web = CrawlRound.webFromMap(spark, FixtureWeb.generate())

    val drv = new CrawlDriver(spark, cfg, web,
      Some(new SnapshotStore(snapDir)), numBuckets = 8, checkpointEvery = 4)
    drv.seed(FixtureWeb.seeds, T0 - 1)
    println(s"[demo] seeded ${FixtureWeb.seeds.size} raw urls -> " +
      s"${drv.frontier.count()} frontier rows, ${drv.hosts.count()} hosts")

    drv.run(T0, rounds)
    println(s"[demo] after $rounds rounds: seq=${drv.seq} " +
      s"frontier=${drv.frontier.count()} extracted=${drv.extracted.count()}")
    println("[demo] dequeue trace (seq round state url):")
    drv.traceRows.foreach(t =>
      println(f"  ${t.seq}%3d r${t.round}%-3d ${t.state_at_dequeue}%-6s ${t.url}"))

    // resume from the durable snapshots with a brand-new driver
    val drv2 = new CrawlDriver(spark, cfg, web,
      Some(new SnapshotStore(snapDir)), numBuckets = 8, checkpointEvery = 4)
    val ok = drv2.resume()
    println(s"[demo] resume=$ok seq=${drv2.seq} " +
      s"seenSetEqual=${drv2.seenSet == drv.seenSet} " +
      s"traceEqual=${drv2.traceRows == drv.traceRows}")
    drv.close()
    drv2.close()
    spark.stop()
  }
}
