package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions.{count, expr, lit, sum}
import graft.core.{CrawlConfig, CrawlState, Step}
import graft.driver.CrawlDriver
import graft.functions.Urls
import graft.operators.SeenFilter
import graft.sim.Simulator
import graft.tables.SnapshotStore
import perfbench.Main.{Ctx, median, secondsSince}

/**
 * The `recrawl` workload: store-less rounds over the Zipf web, each driven
 * by one `CrawlDriver.run(now, 1)` call. The traced run adds direct calls
 * into single layers (Step, Urls, SeenFilter) and a checkpointed pass with
 * a midway resume, the only place snapshots are written and read.
 */
object CrawlWorkloads {

  val T0 = 1000000L
  /** Rounds of the traced run's checkpointed pass; the resume comes after
    * the first half. */
  val DurableRounds = 2

  /** Layer sums over timed calls only: a traced run drains the listener
    * bus around each call and adds the call's per-layer deltas. */
  final class Window(ctx: Ctx, spark: SparkSession) {
    val sums = mutable.Map.empty[String, Array[Double]]
    var calls = 0
    var cpuNs = 0L

    def call[T](name: String, counts: () => Map[String, Long] = () => Map.empty)
               (f: => T): (T, Double) = {
      val p = ctx.probe
      p.drain(spark)
      val before = p.totals
      ctx.markFirstCall()
      val c0 = Probe.cpuNs
      val t0 = System.nanoTime()
      val r = p.span(name, counts)(f)
      val wall = secondsSince(t0)
      cpuNs += Probe.cpuNs - c0
      ctx.attempted += 1
      calls += 1
      p.drain(spark)
      p.totals.foreach { case (k, now) =>
        val was = before.getOrElse(k, Probe.Zero)
        val s = sums.getOrElseUpdate(k, new Array[Double](now.length))
        now.indices.foreach(i => s(i) += now(i) - was(i))
      }
      (r, wall)
    }

    /** Mean per call of field `i` of a layer's totals. */
    def per(layer: String, i: Int): Double =
      if (calls == 0) 0.0 else sums.get(layer).map(_(i)).getOrElse(0.0) / calls
    def taskS(layer: String) = per(layer, Probe.TaskMs) / 1000.0
    def jobs(layer: String) = per(layer, Probe.Jobs)
  }

  /** Order-independent digest of a set of url_hash values. */
  def seenDigest(ds: Dataset[String]): String = {
    def part(from: Int) =
      sum(expr(s"cast(conv(substring(h, $from, 10), 16, 10) as bigint)"))
    val r = ds.toDF("h").agg(count(lit(1)), part(1), part(11)).head()
    s"""{"count":${r.getLong(0)},"a":${r.getLong(1)},"b":${r.getLong(2)}}"""
  }

  private def keys(drv: CrawlDriver): Dataset[String] =
    drv.frontier.select("url_hash").as(Encoders.STRING)

  private def traceTsv(rows: Seq[graft.core.TraceRow]): Iterator[String] =
    rows.iterator.map(r => s"${r.seq}\t${r.round}\t${r.url}\t${r.state_at_dequeue}")

  def recrawl(ctx: Ctx): Unit = {
    val o = ctx.opts
    val zweb = Webs.ZipfWeb(o.seed, o.zipfHosts, o.zipfTop, o.zipfLinks)
    val spark = Main.session(o, ctx.probe)
    try {
      val pages = zweb.web(spark)
      val seeds = zweb.seeds(spark)
      val w = new Window(ctx, spark)
      val walls = mutable.ArrayBuffer.empty[Double]
      val work = mutable.ArrayBuffer.empty[Double]
      // (picks, wall) of every round after a pass's first: the first round
      // pays the JIT, whose cost swings with the CPU left to the JVM
      val warm = mutable.ArrayBuffer.empty[(Long, Double)]
      val perRound = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
      def note(k: String, v: Double) =
        perRound.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += v
      var fetched = 0L
      var passes = 0
      require(o.rounds >= 2, "recrawl needs a round after the first")
      val start = System.nanoTime()
      while (passes == 0 || secondsSince(start) < o.seconds) {
        val first = passes == 0
        val drv = new CrawlDriver(spark, CrawlConfig(), pages, store = None)
        val t = System.nanoTime()
        ctx.probe.span("CrawlDriver.seedDs")(drv.seedDs(seeds, T0 - 1))
        if (first) ctx.layer("driver.seed_s") = secondsSince(t)
        var seenBefore: Dataset[String] = null
        var lastDiscovered = 0L
        for (r <- 0 until o.rounds) {
          if (first && o.trace && r == o.rounds - 1)
            seenBefore = keys(drv).localCheckpoint(eager = true)
          val (seq0, work0, rows0) = (drv.seq, drv.workPhaseSec, drv.frontierRows)
          // one round per call, two logical seconds apart: a host becomes
          // eligible again two seconds after its last fetch
          val (_, wall) = w.call("CrawlDriver.run", () => Map(
            "picks" -> (drv.seq - seq0),
            "discovered" -> (drv.frontierRows - rows0),
            "frontier_rows" -> drv.frontierRows))(drv.run(T0 + 2L * r, 1))
          walls += wall
          work += drv.workPhaseSec - work0
          if (r > 0) warm += ((drv.seq - seq0, wall))
          fetched += drv.seq - seq0
          lastDiscovered = drv.frontierRows - rows0
          if (first) {
            note("driver.picks", (drv.seq - seq0).toDouble)
            note("driver.discovered", lastDiscovered.toDouble)
            note("driver.frontier_rows", drv.frontierRows.toDouble)
            if (o.trace) note("spark.storage_mb", Probe.storageMb(spark))
          }
        }
        if (first) {
          ctx.write("trace_engine.tsv", traceTsv(drv.traceRows))
          ctx.check("seen") = seenDigest(keys(drv))
          if (seenBefore != null)
            seenFilterProbe(ctx, spark, zweb, drv, seenBefore, lastDiscovered)
        }
        drv.close()
        passes += 1
      }
      ctx.e2e("throughput_per_s") = median(warm.map { case (n, s) => n / s }.toSeq)
      ctx.e2e("latency_s") = median(warm.map(_._2).toSeq)
      ctx.e2e("cpu_ms_per_item") = w.cpuNs / 1e6 / fetched
      ctx.check("passes") = passes.toString
      ctx.check("walls") = walls.mkString("[", ",", "]")

      val L = ctx.layer
      val round = walls.sum / walls.size
      L("driver.round_s") = round
      L("driver.work_s") = work.sum / work.size
      L("driver.fixed_s") = round - work.sum / work.size
      perRound.foreach { case (k, vs) => L(k) = vs.sum / vs.size }
      L("operators.CrawlRound.task_s") = w.taskS("operators.CrawlRound")
      L("operators.CrawlRound.gc_s") = w.per("operators.CrawlRound", Probe.GcMs) / 1000.0
      L("operators.CrawlRound.shuffle_mb") =
        w.per("operators.CrawlRound", Probe.ShuffleBytes) / 1048576.0
      L("tables.StateLeaf.task_s") = w.taskS("tables.StateLeaf")
      L("tables.StateLeaf.shuffle_mb") =
        w.per("tables.StateLeaf", Probe.ShuffleBytes) / 1048576.0
      L("tables.StateLeaf.jobs") = w.jobs("tables.StateLeaf")
      L("driver.materialize.task_s") = w.taskS("driver.materialize")
      L("operators.SeenFilter.bloom_task_s") = w.taskS("operators.SeenFilter.bloom")
      L("spark.unattributed.task_s") = w.taskS("spark.unattributed")
      L("spark.jobs") = w.sums.keys.toSeq.map(w.per(_, Probe.Jobs)).sum
      L("spark.tasks") = w.sums.keys.toSeq.map(w.per(_, Probe.Tasks)).sum

      if (o.trace) {
        durablePass(ctx, spark, zweb)
        stepProbe(ctx, zweb)
      }

      // the serial reference simulator over the same web and clock
      val sim = new Simulator(zweb.simWeb, CrawlConfig())
      zweb.seedUrls.foreach(sim.addUrl(_, T0 - 1))
      (0 until o.rounds).foreach(r => sim.run(T0 + 2L * r, 1))
      ctx.write("trace_sim.tsv", traceTsv(sim.trace.toSeq))
    } finally spark.stop()
  }

  private def du(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }

  /** Checkpoint after every round into a run-private store; a fresh driver
    * resumes after the first half and finishes the rounds. */
  private def durablePass(ctx: Ctx, spark: SparkSession,
                          zweb: Webs.ZipfWeb): Unit = {
    val dir = Paths.get(ctx.opts.out, "store").toAbsolutePath
    val cw = new Window(ctx, spark)
    val rw = new Window(ctx, spark)
    val pages = zweb.web(spark)
    def driver() = new CrawlDriver(spark, CrawlConfig(), pages,
      store = Some(new SnapshotStore(dir.toString)))
    var drv = driver()
    ctx.probe.span("CrawlDriver.seedDs")(drv.seedDs(zweb.seeds(spark), T0 - 1))
    // growth and COW bucket pointers changed by checkpoints that build on
    // a previous snapshot; the store's first write has none to reuse
    val written = mutable.ArrayBuffer.empty[Double]
    val rewritten = mutable.ArrayBuffer.empty[Double]
    def cowPointers(): Set[(String, Int, String)] =
      new SnapshotStore(dir.toString).loadLatest().toSeq.flatMap(_.cow.toSeq
        .flatMap { case (t, bs) => bs.map { case (b, p) => (t, b, p) } }).toSet
    var resumeS = 0.0
    for (r <- 0 until DurableRounds) {
      if (r == DurableRounds / 2) {
        drv.close()
        drv = driver()
        val (ok, wall) = rw.call("CrawlDriver.resume")(drv.resume())
        require(ok, s"resume found no snapshot in $dir")
        resumeS = wall
      }
      val before = du(dir)
      val prev = cowPointers()
      cw.call("CrawlDriver.run")(drv.run(T0 + 2L * r, 1))
      if (prev.nonEmpty) {
        written += (du(dir) - before) / 1048576.0
        rewritten += (cowPointers() -- prev).size
      }
    }
    ctx.write("trace_durable.tsv", traceTsv(drv.traceRows))
    ctx.check("store") = Probe.str(dir.toString)
    ctx.check("durable_rounds") = DurableRounds.toString
    ctx.check("frontier_rows") = drv.frontierRows.toString
    drv.close()
    val L = ctx.layer
    L("driver.resume_s") = resumeS
    L("tables.SnapshotStore.read_task_s") = rw.taskS("tables.SnapshotStore.read")
    L("tables.SnapshotStore.commit_task_s") = cw.taskS("tables.SnapshotStore.commit")
    L("tables.SnapshotStore.commit_jobs") = cw.jobs("tables.SnapshotStore.commit")
    L("tables.SnapshotStore.bytes_written_mb") = written.sum / written.size
    L("tables.SnapshotStore.buckets_rewritten") = rewritten.sum / rewritten.size
    val st = new SnapshotStore(dir.toString)
    L("tables.SnapshotStore.live_mb") = st.loadLatest().map { s =>
      (s.cow.values.flatMap(_.values) ++ s.appends.values.flatten).toSeq
        .distinct.map(p => du(Paths.get(p))).sum / 1048576.0
    }.getOrElse(0.0)
  }

  /** Serial per-page and per-outlink costs of the pure layer functions. */
  private def stepProbe(ctx: Ctx, zweb: Webs.ZipfWeb): Unit = {
    val cfg = CrawlConfig()
    val sample = (0L until math.min(zweb.pages, 2000L)).map { d =>
      (zweb.url(d), Step.WebEntry(Webs.WarcTs, zweb.body(d).getBytes(UTF_8),
        Webs.OkTurtle))
    }
    val outlinks = sample.flatMap { case (u, e) =>
      Step.fetchAndProcess(u, CrawlState.New, T0, None, Some(e), cfg).outlinks
    }
    def perItem(n: Int)(f: => Unit): Double = {
      val batches = mutable.ArrayBuffer.empty[Double]
      val start = System.nanoTime()
      while (batches.size < 5 || secondsSince(start) < 1.0) {
        val t = System.nanoTime(); f; batches += (System.nanoTime() - t) / 1e3 / n
      }
      median(batches.toSeq)
    }
    var sink = 0L
    ctx.layer("core.Step.page_us") = ctx.probe.span("Step.fetchAndProcess") {
      perItem(sample.size)(sample.foreach { case (u, e) =>
        sink += Step.fetchAndProcess(u, CrawlState.New, T0, None, Some(e), cfg)
          .outlinks.size })
    }
    ctx.layer("functions.Urls.canon_us") = ctx.probe.span("Urls.canonicalKeyUrl") {
      perItem(outlinks.size)(outlinks.foreach { raw =>
        sink += Urls.canonicalKeyUrl(raw).map(Urls.urlHash).map(_.length)
          .getOrElse(0) })
    }
    ctx.check("step_outlinks") = sink.toString
  }

  /** Each seen-filter level applied to the last round's candidates against
    * the seen set that round started from. */
  private def seenFilterProbe(ctx: Ctx, spark: SparkSession,
                              zweb: Webs.ZipfWeb, drv: CrawlDriver,
                              seen: Dataset[String], discovered: Long): Unit = {
    import spark.implicits._
    val rows = drv.traceRows
    val last = rows.map(_.round).max
    val web = zweb.simWeb
    val cfg = CrawlConfig()
    val cands = rows.filter(_.round == last).flatMap { t =>
      Step.fetchAndProcess(t.url, CrawlState.New, T0, None, web.get(t.url), cfg)
        .outlinks
    }.flatMap(raw => Urls.canonicalKeyUrl(raw)
      .map(c => SeenFilter.Candidate(Urls.urlHash(c), c)))
      .groupBy(_.url_hash).values.map(_.head).toSeq.toDS().cache()
    cands.count()
    val (bloomPass, cuckooPass, fresh, wall) = ctx.probe.span("SeenFilter.filterNew") {
      val t = System.nanoTime()
      val bloom = new SeenFilter.SeenBloom()
      bloom.mergeBatch(SeenFilter.buildBloom(seen, bloom), seen.count())
      val fresh = SeenFilter.filterNew(spark, cands, seen, bloom).count()
      val wall = secondsSince(t)
      val snap = spark.sparkContext.broadcast(bloom.snapshot())
      val maybe = cands.filter(c => snap.value.mightContain(c.url_hash))
      val cuckoo = SeenFilter.cuckooRefine(spark, maybe, seen, 32).filter(_._2).count()
      (maybe.count(), cuckoo, fresh, wall)
    }
    ctx.layer("operators.SeenFilter.filter_s") = wall
    ctx.layer("operators.SeenFilter.bloom_pass") = bloomPass.toDouble
    ctx.layer("operators.SeenFilter.cuckoo_pass") = cuckooPass.toDouble
    ctx.layer("operators.SeenFilter.new") = fresh.toDouble
    ctx.check("seen_filter") =
      s"""{"new":$fresh,"last_round_discovered":$discovered}"""
    cands.unpersist()
  }
}
