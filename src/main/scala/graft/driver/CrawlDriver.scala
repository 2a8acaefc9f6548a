package graft.driver

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import org.apache.spark.sql.{Column, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions.{broadcast, col, row_number}
import graft.core._
import graft.functions.Urls
import graft.operators.{CrawlRound, SeenFilter}
import graft.operators.CrawlRound.{CacheRow, ExtractedRow, PageStoreRow, TraceKeyed, WebRow}
import graft.tables.{AppendState, CrawlTable, DeltaState, Fold, SnapshotStore, StateLeaf}

/**
 * The crawl-loop driver — the Spark re-expression of the crawld daemon's
 * thread loop (reference: crawler/thread.c:272-354, libcrawl/crawler.c:36-69).
 * Runs scheduling rounds (CrawlRound) over frontier/hosts/fetch_log state,
 * maintains the URL-seen bloom family incrementally, and checkpoints state
 * to a SnapshotStore (resumable from any snapshot — north_rule).
 *
 * State is INCREMENTAL: each of the five durable tables (frontier, hosts,
 * fetch_log, extracted, pages) is a tables.CrawlTable — a DeltaState
 * (immutable base + replace-by-key overlay + per-round insert deltas) or
 * an AppendState — so a round materializes only its own changes —
 * O(fetched + discovered), never O(frontier). With a store, each table
 * also stages the parts it changed, and their buckets, until the next
 * checkpoint commits them; checkpoint, resume and compaction are loops
 * over the one table list. Every change — a round, a seed, an mq
 * transition, a partition label — takes one path: each touched table
 * `fold`s its delta into leaves, ONE job (`countFolds`) counts them all,
 * yields their changed buckets and builds the bloom batch of the new
 * frontier keys, the bloom merge follows, and only then are the folds
 * applied: a failed count changes no table. A counted leaf carries its
 * count as planner statistics, so a round's joins against small state
 * (hosts, fetch log, overlays) are planned as broadcast-hash joins. The
 * counting job is not a round's whole cost: with AQE every exchange and
 * broadcast under a leaf runs as its own job when the leaf is built, so
 * the recrawl benchmark (1,000-host Zipf web, local[4]) measures 14.8
 * Spark jobs and 47 tasks a round (23.6 and 63 while every leaf carried
 * the capped size estimate, the seen filter shuffled the seen set twice
 * and the bloom batch was its own aggregate; 27.6 and 226 before the
 * round's generated code was made reusable and its leaves counted over
 * row RDDs).
 *
 * Generated code is reused across rounds: per-round values reach it as
 * data (see CrawlRound), and the driver sets
 * `spark.sql.codegen.useIdInClassName=false` on its session unless the
 * caller has set it, because whole-stage class names otherwise carry
 * stage ids that shift every round.
 *
 * Time is the same logical clock as the simulator: round r of a `run(t0,_)`
 * executes at now = t0 + r (one round ≙ one reference wall-second).
 */
final class CrawlDriver(
    spark: SparkSession,
    cfg: CrawlConfig,
    web: Dataset[WebRow],
    store: Option[SnapshotStore] = None,
    numBuckets: Int = 16,
    checkpointEvery: Int = 1,
    /** Logical seconds between robots-slice refreshes. Default 86400 (one
      * logical day) per the RFC 9309 §2.4 cache-no-longer-than-24h
      * expectation. Long.MaxValue = derive once, never refresh (for
      * fixtures that need a frozen gate). Pinned by RobotsRefreshSpec. */
    robotsTtl: Long = 86400L) {

  import spark.implicits._

  // see the class doc: stage ids in class names defeat codegen reuse
  if (!spark.conf.getAll.contains(CrawlDriver.UseIdInClassName))
    spark.conf.set(CrawlDriver.UseIdInClassName, "false")

  // -------------------------------------------------------- table state
  // the store-less driver tracks nothing: it holds no past round leaves
  private val track = store.isDefined
  private def bucketCol(table: String): Column =
    CrawlDriver.cowBucketCol(table, numBuckets)
  private val fState = new DeltaState[FrontierEntry](spark, "frontier",
    "url_hash", bucketCol("frontier"), "frontier_rows", track)
  private val hState = new DeltaState[HostEntry](spark, "hosts",
    "root_hash", bucketCol("hosts"), "hosts_rows", track)
  private val lState = new DeltaState[CacheRow](spark, "fetch_log",
    "url_hash", bucketCol("fetch_log"), "log_rows", track)
  private val eState = new AppendState[ExtractedRow](spark, "extracted",
    "url", bucketCol("extracted"), track)
  private val pState = new AppendState[PageStoreRow](spark, "pages",
    "url_hash", bucketCol("pages"), track)
  private val tables: Seq[CrawlTable[_]] =
    Seq(fState, hState, lState, eState, pState)

  def frontier: Dataset[FrontierEntry] = fState.view
  def hosts: Dataset[HostEntry]        = hState.view
  def fetchLog: Dataset[CacheRow]      = lState.view
  def extracted: Dataset[ExtractedRow] = eState.view
  /** S4: the stored payload table (disk.c payload-blob analog). */
  def pages: Dataset[PageStoreRow]     = pState.view

  var seq: Long = 0L
  var roundNo: Long = 0L
  var lastNow: Long = 0L
  /** Accumulated work-phase wall seconds across rounds (bench metric):
    * the fetch+process job + the delta-counting job, which builds the
    * round's bloom batch. */
  var workPhaseSec: Double = 0.0
  private var snapshot: Option[SnapshotStore.Snapshot] = None
  private val bloom = new SeenFilter.SeenBloom()

  /** The live web view, swappable mid-crawl (updateWeb) to model content
    * changing under the crawler. Fetches see a swap on the NEXT ROUND; the
    * robots gate on its next TTL REFRESH (robotsSlice) — deliberately. */
  private var webNow: Dataset[WebRow] = web
  def updateWeb(w: Dataset[WebRow]): Unit = { webNow = w }

  /** Robots gate input, derived from the web view and persisted, then
    * REFRESHED on a logical-clock TTL (`robotsTtl` seconds) — robots
    * bodies change on day scales, not round scales, so re-scanning the
    * web every round is waste, but a cache with no refresh would pin a
    * host's rules for the life of the crawl. A robots change therefore
    * takes effect at the next refresh, NOT the next round —
    * RobotsRefreshSpec pins both sides. Never touched while the gate is
    * off (the default). */
  private var robotsCacheSlice: Option[Dataset[CrawlRound.RobotsRow]] = None
  private var robotsDerivedAt: Long = Long.MinValue

  private def robotsSlice(now: Long): Option[Dataset[CrawlRound.RobotsRow]] =
    if (!cfg.robotsEnabled) None
    else {
      val stale = robotsCacheSlice.isEmpty ||
        (robotsTtl != Long.MaxValue && now - robotsDerivedAt >= robotsTtl)
      if (stale) {
        robotsCacheSlice.foreach(_.unpersist(false))
        robotsCacheSlice =
          Some(CrawlRound.robotsFromWeb(spark, webNow).persist())
        robotsDerivedAt = now
      }
      robotsCacheSlice
    }

  // trace: keyed parts, each row carrying its round's first seq;
  // TraceRow.seq is derived lazily (rank by the A1 composite key within
  // the round) so the hot path never sorts
  private var traceBase: Dataset[TraceRow] = spark.emptyDataset[TraceRow]
  private var traceParts: Vector[Dataset[TraceKeyed]] = Vector.empty

  // pending-since-last-checkpoint beside the tables' own: the trace
  // append and the rounds' metrics
  private var pendingTraceParts: Vector[Dataset[TraceKeyed]] = Vector.empty
  private var pendingMetrics: Map[String, Long] = Map.empty

  /** Leaf-finalization pool: with AQE on, building a lazy state leaf runs
    * its plan's intermediate stages EAGERLY (see BatchedLeaf), so a
    * round's leaves built serially cost a scheduling gap each — measured
    * 1.5-5.5 s/round, the dominant share of a round's fixed cost. The
    * leaves are independent plans (an overlay depends only on its update
    * leaf's handle), so the tables' folds build them concurrently here.
    * One thread per leaf future a round submits: update, overlay and
    * insert of the three keyed tables, the two appended parts, the trace. */
  private val leafPool: java.util.concurrent.ExecutorService =
    java.util.concurrent.Executors.newFixedThreadPool(12,
      (r: Runnable) => {
        val t = new Thread(r, "graft-leaf"); t.setDaemon(true); t
      })
  private implicit val leafEc: ExecutionContext =
    ExecutionContext.fromExecutor(leafPool)

  /** Release driver-owned resources: the leaf pool and the persisted
    * robots slice. A JVM that creates many drivers (tests, benchmark runs)
    * otherwise keeps 12 idle daemon threads per driver, and the slice in
    * its cache manager. Idempotent; the driver is unusable for further
    * rounds after close. */
  def close(): Unit = {
    leafPool.shutdown()
    robotsCacheSlice.foreach(_.unpersist(false))
    robotsCacheSlice = None
  }

  private def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r  = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  // ------------------------------------------------------- table changes

  /** Wait for leaves building on the pool; a wedged leaf job surfaces as
    * an error (a leaf finalizes in seconds, so 30 min is far past wedged). */
  private def await[T](f: Future[T]): T =
    try Await.result(f, Duration(30, "min"))
    catch {
      case e: java.util.concurrent.TimeoutException =>
        throw new RuntimeException(
          s"leaf finalization wedged >30min (round $roundNo)", e)
    }

  /** Count the folds' leaves, then `more` leaves, in ONE job: a tracked
    * table's update and insert leaves through a projection of its bucket
    * column, which also yields their changed buckets, every other leaf over
    * its row RDD, which compiles no scan classes. Each fold takes its own
    * leaves' counts and buckets. The same job folds the url_hash values of
    * the `frontier` fold's insert leaf (the new seen keys) into a
    * seen-bloom batch, which is merged here, after the count and before
    * any fold applies. Returns the counts of `more`. */
  private def countFolds(folds: Seq[Fold[_]],
                         frontier: Option[Fold[FrontierEntry]],
                         more: Dataset[_]*): Seq[Long] = {
    val (counted, batch) = StateLeaf.count(
      folds.flatMap(_.leaves) ++ more.map(_ -> None),
      frontier.flatMap(_.insert).map(_ -> bloom.batchFactory))
    val rest = folds.foldLeft(counted) { (rest, f) =>
      val (own, next) = rest.splitAt(f.leaves.size)
      f.counted(own)
      next
    }
    for (f <- frontier; b <- batch if f.insertRows > 0)
      bloom.mergeBatch(b, f.insertRows)
    rest.map(_._1)
  }

  /** A change between rounds (mq transition, partition label). */
  private def change(fold: Future[Fold[_]]): Unit = {
    val f = await(fold)
    countFolds(Seq(f), None)
    f.apply()
  }

  // ------------------------------------------------------------------ seeds

  /** Seed injection ≈ crawler-add (reference: crawler/add.c:44-209;
    * insert-if-absent db.c:1202-1294, force upsert db.c:1219-1231). */
  def seed(urls: Seq[String], now: Long, force: Boolean = false): Unit =
    seedDs(urls.toDS(), now, force)

  /** Distributed seed injection — the SeedLoader path for large seed
    * lists (reference: crawler-add reading stdin line lists, add.c:117-177;
    * at 10^10 scale seeds arrive as files, never through the driver).
    * An entry is a pure function of its canonical URL, so any duplicate
    * wins; a URL already in the frontier already has its host row, so host
    * rows come from the inserted entries only. */
  def seedDs(urls: Dataset[String], now: Long, force: Boolean = false): Unit = {
    val bcCfg = spark.sparkContext.broadcast(cfg)
    val entries = urls
      .flatMap(Step.newFrontierEntry(_, now, force))
      .dropDuplicates("url_hash")
    val fv = frontier
    // J3 upsert: matched rows → overlay with next_fetch=now, state=FORCE
    val forced = if (!force) None else Some(fv
      .join(entries.select("url_hash"), Seq("url_hash"), "left_semi")
      .as[FrontierEntry]
      .map(_.copy(next_fetch = now, state = CrawlState.Force)))
    val f = await(fState.fold(forced, Some(entries
      .join(fv.select("url_hash"), Seq("url_hash"), "left_anti")
      .as[FrontierEntry])))
    val h = await(hState.fold(None, Some(f.insert.get
      .flatMap(e => Step.newHostEntry(e.url, now, bcCfg.value))
      .dropDuplicates("root_hash")
      .join(hosts.select("root_hash"), Seq("root_hash"), "left_anti")
      .as[HostEntry])))
    countFolds(Seq(f, h), Some(f))
    f.apply()
    h.apply()
  }

  // ------------------------------------------------------------------ rounds

  /** Run `rounds` scheduling rounds starting at logical time `t0`
    * (mirrors Simulator.run — clock jumps between calls model TTL expiry). */
  def run(t0: Long, rounds: Int): Unit = {
    var r = 0
    while (r < rounds && seq < cfg.budget) {
      val now = t0 + r
      lastNow = now
      maybeCompact()

      val res = CrawlRound.run(spark, frontier, hosts, fetchLog, fState.keys,
        webNow, cfg, now, roundNo, seq, bloom, robotsSlice(now))
      try {
        workPhaseSec += res.fetchPhaseSec
        if (res.picksCount > 0) foldRound(res)
      } finally res.cleanup()
      roundNo += 1
      if (track && roundNo % checkpointEvery == 0) checkpoint(now)
      r += 1
    }
    // a final commit only for what the last in-loop checkpoint missed: a
    // second commit of the same state would publish an empty snapshot
    if (track && (roundNo != checkpointedRound ||
        tables.exists(_.hasPending) || pendingTraceParts.nonEmpty))
      checkpoint(lastNow)
  }

  /** Fold a round's deltas in: each table pairs with its delta once, all
    * leaves (and the trace's) build on the leaf pool, one job counts them
    * and builds the bloom batch of the discovered keys, the bloom takes the
    * batch, and then every fold applies. */
  private def foldRound(res: CrawlRound.RoundResult): Unit = {
    val trF = Future(StateLeaf.deltaLeaf(res.trace))
    val fF = fState.fold(Some(res.updatedFrontier), Some(res.newFrontier))
    val folds = await(Future.sequence(Seq[Future[Fold[_]]](fF,
      hState.fold(Some(res.updatedHosts), Some(res.newHosts)),
      lState.fold(Some(res.logUpdates), Some(res.logInserts)),
      eState.fold(res.extractedDelta),
      pState.fold(res.pagesDelta))))
    val (f, tr) = (await(fF), await(trF))
    val (trRows, matSec) = timed(countFolds(folds, Some(f), tr).head)
    workPhaseSec += matSec

    folds.foreach(_.apply())
    traceParts :+= StateLeaf.sized(tr, trRows)
    if (track) pendingTraceParts :+= tr
    seq += res.picksCount
    pendingMetrics = pendingMetrics ++ Map(
      "picks"      -> (pendingMetrics.getOrElse("picks", 0L) + res.picksCount),
      "discovered" -> (pendingMetrics.getOrElse("discovered", 0L) + f.insertRows))
  }

  /** The round number the latest snapshot was committed (or resumed) at. */
  private var checkpointedRound: Long = -1L

  private def maybeCompact(): Unit = {
    tables.foreach(t => if (t.needsCompaction) t.compact())
    if (traceParts.size > 48) {
      traceBase = StateLeaf.eagerLeaf(traceAll)
      traceParts = Vector.empty
    }
  }

  // -------------------------------------------------------------- trace view

  /** TraceRow view of keyed parts: seq = the round's first seq + rank
    * within the round by the A1 composite key — the same total order the
    * serial reference loop produces, derived on read instead of sorted in
    * the hot path. */
  private def traceRowsOf(parts: Vector[Dataset[TraceKeyed]])
      : Dataset[TraceRow] = {
    if (parts.isEmpty) return spark.emptyDataset[TraceRow]
    val w = Window.partitionBy(col("round"))
      .orderBy(col("k1"), col("k2"), col("k3"), col("k4"), col("url"))
    parts.map(_.toDF()).reduce(_ unionByName _)
      .select((col("seq_start") + row_number().over(w) - 1).as("seq"),
        col("round"), col("url"), col("state_at_dequeue"))
      .as[TraceRow]
  }

  def traceAll: Dataset[TraceRow] =
    traceBase.unionByName(traceRowsOf(traceParts))

  // -------------------------------------------------------------- snapshots

  /** Commit a snapshot: ship ONLY the pending delta parts (bucket-tagged,
    * priority-ordered) — the store merges them with the previous snapshot's
    * changed-bucket files and carries every untouched bucket's pointer
    * forward, so a commit reads O(changed buckets + delta), never the full
    * table views. The changed buckets came from the folds' counting jobs. */
  def checkpoint(now: Long): Unit = {
    val st = store.getOrElse(return)
    snapshot = Some(st.commit(
      prev = snapshot,
      now = now, round = roundNo, seq = seq,
      cowDeltas = tables.map(t => t.name -> t.cowDelta).toMap,
      appendData = Map("trace" -> traceRowsOf(pendingTraceParts).toDF()),
      // num_buckets is the COW commit granularity: a resume at a different
      // modulus would silently duplicate keys across bucket dirs —
      // resume() require()s this match
      metrics = pendingMetrics ++ tables.flatMap(_.metrics) +
        ("num_buckets" -> numBuckets.toLong)))
    tables.foreach(_.clearPending())
    pendingTraceParts = Vector.empty
    pendingMetrics = Map.empty
    checkpointedRound = roundNo
  }

  /** Restore state from the latest snapshot (or a specific version).
    * Returns false when the store is empty. */
  def resume(version: Option[Int] = None): Boolean = {
    val st = store.getOrElse(return false)
    val snap = version.map(st.load)
      .orElse(st.loadLatest()).getOrElse(return false)
    // fail fast on a bucket-modulus mismatch: the store is laid out mod
    // `stored` — a driver hashing mod `numBuckets` would merge each changed
    // bucket against the WRONG previous files and duplicate keys across
    // bucket dirs (the corruption rebucket exists to prevent). Manifests
    // predating the num_buckets metric resume unchecked (best effort).
    snap.metrics.get("num_buckets").foreach { stored =>
      require(stored == numBuckets.toLong,
        s"snapshot v${snap.version} is bucketed mod $stored but this driver " +
        s"hashes mod $numBuckets — run `Maintain rebucket $numBuckets` on " +
        "the store (or resume with numBuckets = " + stored + ")")
    }
    snapshot = Some(snap)
    tables.foreach(_.restore(st, snap))
    traceBase = StateLeaf.eagerLeaf(st.readAppend(spark, snap, "trace",
      Encoders.product[TraceRow].schema).as[TraceRow])
    traceParts = Vector.empty
    seq = snap.seq
    roundNo = snap.round
    checkpointedRound = snap.round
    lastNow = snap.now
    if (fState.rows > 0) // rebuild the seen bloom from state
      bloom.mergeBatch(SeenFilter.buildBloom(fState.keys, bloom), fState.rows)
    true
  }

  // ------------------------------------------------ downstream surfaces

  /** S6 mq surface: next ACCEPTED row for a node slice, optionally scoped
    * to a host partition label (F8; mq.c:373-400, db.c:564-579). */
  def mqNext(nodeId: Int, nodeCount: Int,
             partition: Option[String] = None): Option[FrontierEntry] =
    MqConsumer.next(frontier, hosts, nodeId, nodeCount, partition)

  /** S6 ack: ACCEPTED → COMPLETE (state-guarded; mq.c:447). */
  def mqAck(urlHash: String): Unit = mqAckBatch(Seq(urlHash))

  /** S6 reject: ACCEPTED → FAILED (state-guarded; mq.c:463). */
  def mqReject(urlHash: String): Unit = mqRejectBatch(Seq(urlHash))

  /** Batched acks: ONE keyed overlay merge for the whole batch — O(batch),
    * never a full-frontier rewrite. */
  def mqAckBatch(urlHashes: Seq[String]): Unit =
    change(fState.fold(Some(MqConsumer.ackDelta(frontier, urlHashes)), None))

  def mqRejectBatch(urlHashes: Seq[String]): Unit =
    change(fState.fold(Some(MqConsumer.rejectDelta(frontier, urlHashes)), None))

  /** S7 partition tool (reference: crawler/partition.c:47-96): label a
    * host root for scoped processing (F8). */
  def setHostPartition(rootUrl: String, partition: Option[String]): Unit = {
    val canonRoot = Urls.canonicalRoot(rootUrl).getOrElse(return)
    change(hState.fold(Some(hosts.filter(col("root_url") === canonRoot)
      .map(_.copy(partition = partition))), None))
  }

  /** crawl-locate analog (reference: utils/crawl-locate.c:40-85): what
    * the cache knows about a URL, without fetching. */
  def locate(url: String): Option[(CacheRow, Option[String])] =
    Urls.canonicalKeyUrl(url).flatMap { canon =>
      val h = Urls.urlHash(canon)
      fetchLog.filter(col("url_hash") === h).head(1).headOption.map { row =>
        (row, extracted.filter(col("url") === canon).head(1).headOption
          .map(_.text))
      }
    }

  /** S4: the stored payload body for a URL (disk.c:172-195 read path). */
  def locatePayload(url: String): Option[Array[Byte]] =
    Urls.canonicalKeyUrl(url).flatMap { canon =>
      pages.filter(col("url_hash") === Urls.urlHash(canon))
        .head(1).headOption.map(_.body)
    }

  /** crawl-mirror analog (reference: libcrawl/utils/crawl-mirror.c — a
    * scoped bulk dump of cached objects): write every stored payload plus
    * a JSON sidecar under `outDir` in the disk cache's sharded layout
    * `xx/yy/<hash>[.json]` (xx/yy = first two hex pairs of the cache key,
    * caches/disk.c:349-375), optionally scoped to one host root or to the
    * hosts carrying a partition label (F8). The dump runs DISTRIBUTED —
    * each task writes its partition's files; nothing is collected to the
    * driver — so a 100 TB payload table exports at executor fan-out.
    * Returns the number of objects written. */
  def exportMirror(outDir: String, rootUrl: Option[String] = None,
                   partition: Option[String] = None): Long = {
    val byRoot: Option[String] =
      rootUrl.flatMap(Urls.canonicalRoot).map(Urls.urlHash)
    // derive each page's root hash ON THE EXECUTORS (K5+K1), then scope:
    // a single-root filter is a row predicate; a partition-label scope is
    // a broadcast LEFT SEMI join against the label's root_hash slice —
    // never a collect() of the matching roots to the driver (a label over
    // 10^7 hosts would be a ~GB driver set)
    val keyed: Dataset[(String, CrawlRound.PageStoreRow)] = pages.map { p =>
      (Urls.canonicalRoot(p.url).map(Urls.urlHash).getOrElse(""), p)
    }
    val rootScoped = byRoot.fold(keyed)(rh => keyed.filter(_._1 == rh))
    val sel: Dataset[CrawlRound.PageStoreRow] = partition match {
      case None => rootScoped.map(_._2)
      case Some(lbl) =>
        val roots = hosts.filter(col("partition") === lbl)
          .select(col("root_hash"))
        rootScoped.toDF("rh", "page")
          .join(broadcast(roots), col("rh") === col("root_hash"), "left_semi")
          .select("page.*").as[CrawlRound.PageStoreRow]
    }
    val log = fetchLog
    val withStatus = sel.joinWith(log, sel("url_hash") === log("url_hash"),
      "left_outer")
    val base = outDir
    val written = spark.sparkContext.longAccumulator("mirror_written")
    withStatus.foreachPartition {
      (it: Iterator[(CrawlRound.PageStoreRow, CacheRow)]) =>
        it.foreach { case (p, c) =>
          val dir = java.nio.file.Paths.get(base,
            p.url_hash.substring(0, 2), p.url_hash.substring(2, 4))
          java.nio.file.Files.createDirectories(dir)
          java.nio.file.Files.write(dir.resolve(p.url_hash), p.body)
          val status = Option(c).map(_.status).getOrElse(0)
          val esc = p.url.flatMap {
            case '"' => "\\\""; case '\\' => "\\\\"; case ch => ch.toString
          }
          // sidecar subset of the reference's JSON dict
          // (p_libcrawl.h:47-75): the schedule-relevant scalar fields
          java.nio.file.Files.writeString(dir.resolve(p.url_hash + ".json"),
            s"""{"url":"$esc","updated":${p.updated},"status":$status}""")
          written.add(1)
        }
    }
    written.value
  }

  /** `crawld -t URI` analog (reference: crawld.c:161-174, db.c:610-627):
    * force-add one URI and run a single round over it. */
  def testUri(url: String, t0: Long): Unit = {
    seed(Seq(url), t0 - 1, force = true)
    run(t0, 1)
  }

  // -------------------------------------------------------------- accessors

  /** Frontier row count from tracked deltas (no Spark job). */
  def frontierRows: Long = fState.rows

  /** fetch_log row count from tracked deltas (no Spark job) — correct only
    * while first-fetch rows route to addInserts and refetches to the
    * overlay (the DeltaState contract). */
  def fetchLogRows: Long = lState.rows

  def seenSet: Set[String] = fState.keys.collect().toSet
  def traceRows: Seq[TraceRow] = traceAll.collect().sortBy(_.seq).toSeq
  def extractedMap: Map[String, String] =
    extracted.collect().map(e => e.url -> e.text).toMap
}

object CrawlDriver {
  private val UseIdInClassName = "spark.sql.codegen.useIdInClassName"

  /** COW bucket assignment — the Scala reference semantics; the driver's
    * columnar bucket expressions below must agree (pinned by a spec). */
  def fBucket(shorthash: Long, nb: Int): Int = (shorthash % nb).toInt
  def hBucket(rootHash: String, nb: Int): Int =
    fBucket(Urls.shorthash(rootHash), nb)
  def uBucket(url: String, nb: Int): Int =
    fBucket(Urls.shorthash(Urls.urlHash(url)), nb)

  /** Per-COW-table bucket derivation — the single source of truth shared
    * by the driver's checkpoint deltas and the offline rebucket job
    * (tables.SnapshotStore.rebucket must hash exactly as the driver
    * resuming at the new bucket count will; scala↔columnar equality is
    * pinned by SparkCrawlSpec via fBucket/hBucket/uBucket). */
  def cowBucketCol(table: String, nb: Int): Column = {
    def b(c: Column): Column = (c % nb).cast("int")
    table match {
      case "frontier"            => b(col("shorthash"))
      case "hosts"               => b(shorthashCol("root_hash"))
      case "fetch_log" | "pages" => b(shorthashCol("url_hash"))
      case "extracted"           => b(urlShorthashCol("url"))
      case other => throw new IllegalArgumentException(
        s"unknown cow table $other")
    }
  }

  /** K2 shorthash as a column (first 8 hex chars of a hash column parsed
    * as u32 — db.c:836-838): columnar mirror of Urls.shorthash. */
  def shorthashCol(hashCol: String): Column =
    org.apache.spark.sql.functions
      .expr(s"cast(conv(substring($hashCol, 1, 8), 16, 10) as bigint)")

  /** shorthash(urlHash(url)) as a column — K1+K2 over a URL column
    * (sha2 is Spark's codegen'd SHA-256, byte-identical to Urls.urlHash). */
  def urlShorthashCol(urlCol: String): Column =
    org.apache.spark.sql.functions
      .expr(s"cast(conv(substring(sha2($urlCol, 256), 1, 8), 16, 10) as bigint)")
}
