package graft.driver

import java.nio.file.Files
import graft.SparkTestBase
import graft.core.CrawlState
import graft.functions.Urls
import graft.operators.CrawlRound
import graft.sim.FixtureWeb
import graft.tables.SnapshotStore

/**
 * Driver-initiated frontier updates between rounds — a force re-seed
 * (J3 upsert) and mq ack/reject transitions — reach the next snapshot:
 * a driver resumed from it sees exactly the live driver's frontier and
 * hosts, and the commit reads back only the frontier buckets those updates
 * touched.
 */
class UpdateCheckpointSpec extends SparkTestBase {
  val T0 = 1000000L
  val NB = 8

  private def driver(st: SnapshotStore): CrawlDriver =
    new CrawlDriver(spark, FixtureWeb.config(),
      CrawlRound.webFromMap(spark, FixtureWeb.generate()), Some(st),
      numBuckets = NB, checkpointEvery = 100)

  private def bucketOf(path: String): Int =
    path.substring(path.lastIndexOf("bucket=") + "bucket=".length).toInt

  test("force re-seed and mq ack/reject survive checkpoint + resume; the " +
       "commit reads only the touched frontier buckets") {
    val st = new SnapshotStore(
      Files.createTempDirectory("graft-snap-updates").toString)
    val drv = driver(st)
    drv.seed(FixtureWeb.seeds, T0 - 1)
    drv.run(T0, 6) // ends with a checkpoint of the whole state

    // 1. force re-seed of a url that was already fetched
    val forced = FixtureWeb.url(0, 0)
    val forcedHash = Urls.urlHash(Urls.canonicalKeyUrl(forced).get)
    assert(drv.fetchLog.collect().exists(_.url_hash == forcedHash))
    drv.seed(Seq(forced), T0 + 6, force = true)

    // 2. one mq ack and one mq reject of ACCEPTED rows
    val accepted = drv.frontier.collect()
      .filter(_.state == CrawlState.Accepted).sortBy(_.url).map(_.url_hash)
    assert(accepted.length >= 2)
    val (acked, rejected) = (accepted(0), accepted(1))
    drv.mqAckBatch(Seq(acked))
    drv.mqRejectBatch(Seq(rejected))

    drv.checkpoint(T0 + 7)

    val live = drv.frontier.collect()
    val state = live.map(f => f.url_hash -> f.state).toMap
    assert(state(forcedHash) == CrawlState.Force)
    assert(state(acked) == CrawlState.Complete)
    assert(state(rejected) == CrawlState.Failed)

    val touched = live
      .filter(f => Set(forcedHash, acked, rejected).contains(f.url_hash))
      .map(f => CrawlDriver.fBucket(f.shorthash, NB)).toSet
    val reads = st.lastCommitPrevReads
    assert(reads("frontier").map(bucketOf).toSet == touched)
    assert(reads.getOrElse("hosts", Nil).isEmpty,
      "re-seeding a known url adds no host row")

    val resumed = driver(st)
    assert(resumed.resume())
    assert(resumed.frontier.collect().toSet == live.toSet)
    assert(resumed.hosts.collect().toSet == drv.hosts.collect().toSet)
    drv.close()
    resumed.close()
  }
}
