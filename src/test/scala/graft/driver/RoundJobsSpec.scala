package graft.driver

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.graft.SparkInternals
import graft.SparkTestBase
import graft.operators.CrawlRound
import graft.sim.FixtureWeb

/**
 * The Spark jobs a warm store-less crawl round starts, counted with a
 * listener. Each exchange and broadcast under a round's leaves runs as a
 * job of its own, so the count moves when a join's plan does: a round
 * whose counted state leaves lose their statistics shuffles both sides of
 * its joins and then broadcasts one, which costs jobs. The bound is the
 * count measured when the round's joins were planned on counted leaves,
 * plus a margin of 2.
 */
class RoundJobsSpec extends SparkTestBase {
  val T0 = 1000000L
  val MeasuredJobs = 16

  test("a warm crawl round starts no more Spark jobs than it was measured at") {
    val drv = new CrawlDriver(spark, FixtureWeb.config(),
      CrawlRound.webFromMap(spark, FixtureWeb.generate()), None,
      numBuckets = 8)
    drv.seed(FixtureWeb.seeds, T0 - 1)
    drv.run(T0, 2)
    val jobs = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.incrementAndGet(): Unit
    }
    val perRound = try (2 until 4).map { r =>
      SparkInternals.drainListeners(spark)
      spark.sparkContext.addSparkListener(listener)
      jobs.set(0)
      try drv.run(T0 + r, 1)
      finally {
        SparkInternals.drainListeners(spark)
        spark.sparkContext.removeSparkListener(listener)
      }
      jobs.get
    } finally drv.close()
    info(s"jobs per warm round: ${perRound.mkString(", ")}")
    perRound.foreach(n => assert(n <= MeasuredJobs + 2,
      s"a warm round started $n Spark jobs, measured at $MeasuredJobs"))
  }
}
