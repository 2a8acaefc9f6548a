package graft.driver

import java.nio.file.Files
import scala.collection.concurrent.TrieMap
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import graft.SparkTestBase
import graft.operators.CrawlRound
import graft.sim.FixtureWeb
import graft.tables.SnapshotStore

/**
 * A round killed after its fetch — its delta-counting job cancelled — is
 * all-or-nothing: `run` throws, every table, the trace and the seen set
 * keep their values from before the round, and re-running the round gives
 * the crawl an uninterrupted driver produces (and, with a store, a resume
 * equal to it).
 */
class RoundFaultSpec extends SparkTestBase {
  val T0 = 1000000L

  private def driver(store: Option[SnapshotStore]): CrawlDriver = {
    val d = new CrawlDriver(spark, FixtureWeb.config(),
      CrawlRound.webFromMap(spark, FixtureWeb.generate()), store,
      numBuckets = 8)
    d.seed(FixtureWeb.seeds, T0 - 1)
    d
  }

  private def state(d: CrawlDriver) = (
    d.frontier.collect().toSet, d.hosts.collect().toSet,
    d.fetchLog.collect().toSet, d.extracted.collect().toSet,
    d.pages.collect().map(p => (p.url_hash, p.url, p.updated, p.body.toSeq))
      .toSet,
    d.seq, d.roundNo, d.traceRows, d.seenSet)

  /** Run `f` with the first job counting a round's folds cancelled as it
    * starts; returns the exception `f` threw. A SQL job's own call site is
    * deep in Spark's planner, so its frames come from the SQL execution's
    * start event, as perfbench's probe reads them. */
  private def withCountCancelled(f: => Unit): Throwable = {
    @volatile var armed = true
    val listener = new SparkListener {
      private val sqlFrames = TrieMap.empty[Long, String]
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart =>
          sqlFrames(s.executionId) = s.details
        case _ =>
      }
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val sql = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
          .flatMap(id => sqlFrames.get(id.toLong))
        val frames = sql.toSeq ++ e.stageInfos.map(_.details)
        if (armed && frames.exists(_.contains("CrawlDriver.countFolds"))) {
          armed = false
          spark.sparkContext.cancelJob(e.jobId)
        }
      }
    }
    spark.sparkContext.addSparkListener(listener)
    val thrown =
      try { f; None } catch { case e: Throwable => Some(e) }
      finally spark.sparkContext.removeSparkListener(listener)
    assert(!armed, "the round's counting job never started")
    assert(thrown.isDefined, "run completed although its count was cancelled")
    thrown.get
  }

  for (tracked <- Seq(false, true))
    test(s"a round whose counting job is cancelled changes nothing and " +
         s"re-runs to the uninterrupted crawl (store = $tracked)") {
      val dir = Files.createTempDirectory("graft-round-fault").toString
      val store = if (tracked) Some(new SnapshotStore(dir)) else None
      val drv = driver(store)
      drv.run(T0, 3)
      val before = state(drv)

      val e = withCountCancelled(drv.run(T0 + 3, 1))
      assert(Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
        .exists(c => String.valueOf(c.getMessage).contains("cancelled")), e)
      assert(state(drv) == before)

      drv.run(T0 + 3, 1)
      val ref = driver(None)
      ref.run(T0, 4)
      assert(drv.traceRows == ref.traceRows)
      assert(drv.seenSet == ref.seenSet)
      store.foreach { st =>
        val resumed = new CrawlDriver(spark, FixtureWeb.config(),
          CrawlRound.webFromMap(spark, FixtureWeb.generate()), Some(st),
          numBuckets = 8)
        assert(resumed.resume())
        assert(resumed.traceRows == drv.traceRows)
        assert(resumed.seenSet == drv.seenSet)
        resumed.close()
      }
      drv.close()
      ref.close()
    }
}
