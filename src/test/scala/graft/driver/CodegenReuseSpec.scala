package graft.driver

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.{LoggerConfig, Property}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.graft.SparkInternals
import graft.SparkTestBase
import graft.operators.CrawlRound
import graft.sim.{FixtureWeb, Simulator}

/**
 * A warm crawl round must run the same generated Java source as the
 * rounds before it: per-round values (the clock, the round number, the
 * delta splits) reach generated code as data, and whole-stage class names
 * carry no stage id. Spark logs, at DEBUG, the source of every whole-stage
 * pipeline it executes; this spec collects them per round and rejects a
 * round-4 source that differs from an earlier round's only in numbers.
 *
 * It does not bound the compile COUNT. Spark's codegen cache holds 100
 * entries keyed by (context class loader, source), and in local mode a
 * whole-stage class is compiled once under the driver's loader and once
 * under the executor's, so a round's ~35 whole-stage and ~25 other
 * classes fill ~95 entries: a warm round still recompiles some of them
 * after evicting them itself. Compiles per round are reported for the
 * record, counted as the change in CodegenMetrics'
 * METRIC_COMPILATION_TIME count.
 */
class CodegenReuseSpec extends SparkTestBase {
  val T0 = 1000000L

  test("a warm round runs no per-round variant of an earlier generated " +
       "source, releases every round cache and still equals the simulator") {
    val web = FixtureWeb.generate()
    val cfg = FixtureWeb.config()
    val sim = new Simulator(web, cfg)
    FixtureWeb.seeds.foreach(sim.addUrl(_, T0 - 1))
    val drv = new CrawlDriver(spark, cfg, CrawlRound.webFromMap(spark, web),
      None, numBuckets = 8)
    drv.seed(FixtureWeb.seeds, T0 - 1)

    val cachedBefore = SparkInternals.cachedPlans(spark)
    def compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val sources = new StageSources
    val perRound = try (0 until 4).map { r =>
      val before = compiles
      sources.drain()
      drv.run(T0 + r, 1)
      assert(SparkInternals.cachedPlans(spark) == cachedBefore,
        s"round $r left a cached plan behind")
      (compiles - before, sources.drain().toSet)
    } finally sources.close()
    drv.close()
    info(s"compiles per round: ${perRound.map(_._1).mkString(", ")}; " +
      s"whole-stage sources: ${perRound.map(_._2.size).mkString(", ")}")

    sim.run(T0, 4)
    assert(drv.traceRows == sim.trace.toSeq)
    assert(drv.seenSet == sim.seenSet)

    // AQE may still pick a new join strategy as the data grows, so a new
    // pipeline in round 4 is allowed; one that differs from an earlier
    // round's only in numbers is a per-round literal or a stage id
    def shape(source: String) = source.replaceAll("[0-9]+", "#")
    val earlier = perRound.take(3).flatMap(_._2).toSet
    val earlierShapes = earlier.map(shape)
    val variants = (perRound(3)._2 -- earlier).filter(s =>
      earlierShapes(shape(s)))
    assert(perRound(3)._2.nonEmpty, "no generated source was captured")
    assert(variants.isEmpty,
      s"round 4 ran ${variants.size} whole-stage sources that differ from " +
        "an earlier round's only in numbers; the first:\n" +
        variants.headOption.getOrElse("").take(3000))
  }
}

/** Collects, comment-free, the source of every whole-stage pipeline Spark
  * executes while open: a DEBUG appender on WholeStageCodegenExec's
  * logger, not additive, so nothing reaches the test's console. */
final class StageSources extends AutoCloseable {
  private val name = "org.apache.spark.sql.execution.WholeStageCodegenExec"
  private val got = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  private val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
  private val previous = Option(ctx.getConfiguration.getLoggers.get(name))
  private val appender = new AbstractAppender("stage-sources", null, null,
      true, Property.EMPTY_ARRAY) {
    override def append(e: LogEvent): Unit =
      got.add(StageSources.strip(e.getMessage.getFormattedMessage))
  }
  appender.start()
  private val config = new LoggerConfig(name, Level.DEBUG, false)
  config.addAppender(appender, Level.DEBUG, null)
  ctx.getConfiguration.addLogger(name, config)
  ctx.updateLoggers()

  /** The sources captured since the last drain. */
  def drain(): Seq[String] = Iterator.continually(got.poll())
    .takeWhile(_ != null).toSeq

  override def close(): Unit = {
    ctx.getConfiguration.removeLogger(name)
    previous.foreach(ctx.getConfiguration.addLogger(name, _))
    ctx.updateLoggers()
    appender.stop()
  }
}

object StageSources {
  /** Drops the formatter's line numbers and every comment line: comments
    * carry the codegen stage id, which the compiled class does not. */
  def strip(source: String): String =
    source.split('\n').iterator
      .map(_.replaceFirst("""^/\* \d+ \*/ ?""", ""))
      .filterNot(l => l.trim.startsWith("//") || l.trim.startsWith("/*") ||
        l.trim.startsWith("*"))
      .mkString("\n")
}
