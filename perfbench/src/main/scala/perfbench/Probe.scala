package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/**
 * Observes the program from outside: harness spans around public calls,
 * Spark jobs and stages attributed to program layers by call site, and
 * JVM / process counters. Spans and layer sums are collected only when
 * tracing; the JVM counters are always available.
 */
final class Probe(val tracing: Boolean) extends SparkListener {

  final case class Span(id: Int, name: String, parent: Int,
                        startMs: Long, endMs: Long,
                        counts: Map[String, Long] = Map.empty)

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 1
  // ids of the open harness spans (the harness drives the program from one
  // thread), innermost first
  private var open: List[Int] = Nil

  /** Time `f` as a span named `name`, nested under the current span;
    * `counts` is read once `f` has returned. */
  def span[T](name: String, counts: () => Map[String, Long] = () => Map.empty)
             (f: => T): T = {
    val id = synchronized { nextId += 1; nextId - 1 }
    val parent = open.headOption.getOrElse(0)
    val start = System.currentTimeMillis()
    open = id :: open
    try f
    finally {
      open = open.tail
      if (tracing) {
        val c = counts()
        synchronized {
          spans += Span(id, name, parent, start, System.currentTimeMillis(), c)
        }
      }
    }
  }

  // ------------------------------------------------------------ Spark side

  /** Per layer: totals indexed by `Probe.TaskMs` etc. */
  private val layers = mutable.Map.empty[String, Array[Long]]
  private def sums(name: String) =
    layers.getOrElseUpdate(name, new Array[Long](Probe.Zero.length))
  private val sqlFrames = mutable.Map.empty[Long, Seq[String]]
  private val stageLayer = mutable.Map.empty[Int, String]
  private val jobInfo = mutable.Map.empty[Int, (String, Long)]
  /** Jobs per (layer, innermost program frames) — shows what a layer holds. */
  private val callSites = mutable.Map.empty[String, Int]

  def callSitesTsv: Seq[String] = synchronized {
    callSites.toSeq.sortBy(-_._2).map { case (k, v) => s"$v\t$k" }
  }

  /** Copy of every layer's totals. */
  def totals: Map[String, Array[Long]] = synchronized {
    layers.map { case (k, a) => k -> a.clone() }.toMap
  }

  override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
    case e: SparkListenerSQLExecutionStart => synchronized {
      sqlFrames(e.executionId) = e.details.split("\n").toSeq
    }
    case _ =>
  }

  override def onJobStart(js: SparkListenerJobStart): Unit = synchronized {
    val props = Option(js.properties)
    val execFrames = props
      .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .flatMap(id => sqlFrames.get(id.toLong))
    val stageFrames = js.stageInfos.sortBy(-_.stageId).headOption
      .map(_.details.split("\n").toSeq).getOrElse(Nil)
    val frames = execFrames.getOrElse(Nil) ++ stageFrames
    val layer = Probe.layerOf(frames)
    if (tracing) {
      val site = layer + "\t" + frames.filter(_.contains("graft.")).take(3)
        .mkString(" < ")
      callSites(site) = callSites.getOrElse(site, 0) + 1
    }
    js.stageIds.foreach(s => if (!stageLayer.contains(s)) stageLayer(s) = layer)
    jobInfo(js.jobId) = (layer, js.time)
    sums(layer)(Probe.Jobs) += 1
  }

  override def onJobEnd(je: SparkListenerJobEnd): Unit = synchronized {
    jobInfo.remove(je.jobId).foreach { case (layer, start) =>
      if (tracing) {
        nextId += 1
        spans += Span(nextId - 1, s"job:$layer", -1, start, je.time)
      }
    }
  }

  override def onStageCompleted(sc: SparkListenerStageCompleted): Unit =
    synchronized {
      val info = sc.stageInfo
      val layer = stageLayer.getOrElse(info.stageId,
        Probe.layerOf(info.details.split("\n").toSeq))
      val a = sums(layer)
      val m = info.taskMetrics
      if (m != null) {
        a(Probe.TaskMs) += m.executorRunTime
        a(Probe.GcMs) += m.jvmGCTime
        a(Probe.ShuffleBytes) += m.shuffleWriteMetrics.bytesWritten
        a(Probe.SpillBytes) += m.memoryBytesSpilled + m.diskBytesSpilled
      }
      a(Probe.Tasks) += info.numTasks
    }

  /** Wait until every posted listener event has been handled. */
  def drain(spark: SparkSession): Unit =
    if (tracing) org.apache.spark.PerfbenchBus.drain(spark.sparkContext)

  /** Spans as JSON lines. A job's parent is the innermost harness span
    * that was open when the job started. */
  def spansJson: Seq[String] = synchronized {
    val calls = spans.filter(_.parent >= 0)
    def parentOf(job: Span): Int = calls
      .filter(c => c.startMs <= job.startMs && job.startMs <= c.endMs)
      .maxByOption(_.startMs).map(_.id).getOrElse(0)
    spans.map(s => if (s.parent < 0) s.copy(parent = parentOf(s)) else s)
      .sortBy(s => (s.startMs, s.id)).map { s =>
      s"""{"id":${s.id},"name":${Probe.str(s.name)},"parent":${s.parent},""" +
        s""""start_ms":${s.startMs},"end_ms":${s.endMs}""" +
        s.counts.map { case (k, v) => s",${Probe.str(k)}:$v" }.mkString + "}"
    }.toSeq
  }
}

object Probe {

  // fields of a layer's totals
  val TaskMs = 0; val GcMs = 1; val ShuffleBytes = 2; val SpillBytes = 3
  val Jobs = 4; val Tasks = 5
  val Zero: Array[Long] = new Array[Long](6)

  /** Layer of a job or stage from its call-site frames (innermost first).
    * Snapshot commits and resumes own everything below them; otherwise the
    * innermost program frame decides. Jobs with no program frame at all
    * (AQE stages submitted from pool threads) form their own bucket. */
  def layerOf(frames: Seq[String]): String = {
    def has(s: String) = frames.exists(_.contains(s))
    if (has("graft.tables.SnapshotStore.commit")) "tables.SnapshotStore.commit"
    else if (has("graft.driver.CrawlDriver.resume") ||
             has("graft.tables.SnapshotStore.read"))
      "tables.SnapshotStore.read"
    else frames.iterator.flatMap(frameLayer).nextOption()
      .getOrElse("spark.unattributed")
  }

  private def frameLayer(f: String): Option[String] =
    if (f.contains("graft.operators.SeenFilter$.buildBloom"))
      Some("operators.SeenFilter.bloom")
    else if (f.contains("graft.operators.SeenFilter")) Some("operators.SeenFilter")
    else if (f.contains("graft.tables.StateLeaf") ||
             f.contains("org.apache.spark.sql.graft.BatchedLeaf"))
      Some("tables.StateLeaf")
    else if (f.contains("graft.driver.CrawlDriver.materializeAndCount"))
      Some("driver.materialize")
    else if (f.contains("graft.operators.CrawlRound")) Some("operators.CrawlRound")
    else if (f.contains("graft.driver.CrawlDriver.seed")) Some("driver.seed")
    else if (f.contains("graft.queries.") || f.contains("graft.SparkEntry"))
      Some("queries")
    else if (f.contains("graft.")) Some("graft.other")
    else if (f.contains("perfbench.")) Some("harness")
    else None

  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** CPU time of this JVM (all threads), in nanoseconds. */
  def cpuNs: Long = java.lang.management.ManagementFactory
    .getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  def gcMs: Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(_.getCollectionTime).sum

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    finally src.close()
  }

  /** Bytes held by the block managers (on- and off-heap storage). */
  def storageMb(spark: SparkSession): Double = {
    val st = spark.sparkContext.getExecutorMemoryStatus.values
    st.map { case (max, free) => max - free }.sum / 1048576.0
  }
}
