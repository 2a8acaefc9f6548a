package graft.driver

import java.nio.file.Files
import graft.SparkTestBase
import graft.operators.CrawlRound
import graft.sim.{FixtureWeb, Simulator}
import graft.tables.SnapshotStore

/**
 * Trace rows carry their round's first seq as data, so the driver may fold
 * its trace parts into a base (past 48 parts) while some of them are still
 * pending the next snapshot's trace append. A checkpoint after such a fold
 * must still append the right seqs: the live trace, and the trace a
 * resumed driver reads back, both equal the simulator's.
 */
class TraceFoldSpec extends SparkTestBase {
  val T0 = 1000000L

  test("a trace fold with parts pending a checkpoint keeps the live and " +
       "resumed trace and seen set equal to the simulator") {
    // a web big enough that one run picks in well over 48 rounds
    val web = FixtureWeb.generate(hosts = 4, pagesPerHost = 40)
    val cfg = FixtureWeb.config()
    val sim = new Simulator(web, cfg)
    FixtureWeb.seeds.foreach(sim.addUrl(_, T0 - 1))
    val st = new SnapshotStore(
      Files.createTempDirectory("graft-trace-fold").toString)
    // one checkpoint, at the end of the run: every trace part is pending
    // when the fold runs
    val drv = new CrawlDriver(spark, cfg, CrawlRound.webFromMap(spark, web),
      Some(st), numBuckets = 8, checkpointEvery = 1000)
    drv.seed(FixtureWeb.seeds, T0 - 1)

    sim.run(T0, 72); drv.run(T0, 72)
    val rounds = sim.trace.map(_.round).distinct.size
    assert(rounds > 49, s"only $rounds rounds picked: the trace never folds")
    assert(st.loadLatest().map(_.version).contains(1))

    assert(drv.traceRows == sim.trace.toSeq)
    assert(drv.seenSet == sim.seenSet)

    val resumed = new CrawlDriver(spark, cfg, CrawlRound.webFromMap(spark, web),
      Some(st), numBuckets = 8)
    assert(resumed.resume())
    assert(resumed.traceRows == drv.traceRows)
    assert(resumed.seenSet == drv.seenSet)
    resumed.close()
    drv.close()
  }
}
