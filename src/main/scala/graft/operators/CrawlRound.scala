package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions.{coalesce, col, explode, expr, lit}
import graft.core._
import graft.functions.Urls

/**
 * One scheduling round of the crawl loop as a Spark Dataset job — the
 * set-oriented re-expression of the reference's serial
 * dequeue→fetch→process→update iteration (libcrawl/crawler.c:36-69;
 * dequeue txn libspider/queues/db.c:659-791). See SURVEY §3.1.
 *
 * Per round (logical time `now`, one round ≙ one reference wall-second):
 *  1. A1 dequeue: frontier (next_fetch < now) ⋈ eligible hosts
 *     (rate > 0, earliest_update < now) on root_hash, then per-host top-1
 *     via typed groupByKey(root_hash).flatMapGroups — the form the
 *     north_rule names. ≤1 URL/host/round makes the reference's politeness
 *     invariant hold by construction (the reference needs a dequeue-time
 *     write txn for this, db.c:762-790).
 *  2. Emission ORDER is decoupled from execution: each pick carries its
 *     A1 composite sort key (Step.emitKey) and the trace sequence is
 *     derived lazily from the keys on read — no global sort, no
 *     RangePartitioner sample job, no zipWithIndex job in the hot path.
 *     Only a finite crawl budget forces a top-k here (TakeOrdered over the
 *     remaining budget), truncating in exactly the reference's order.
 *  3. Simulated fetch: picks ⋈ web (pages ⋈ fetch_meta, raw header block)
 *     on url, ⋈ fetch_log on url_hash (If-Modified-Since/304 + rollback)
 *     as flat columnar left joins, then the shared pure
 *     Step.fetchAndProcess inside mapPartitions (the one typed boundary) —
 *     X7 header parse, policy gates, redirect follow, RDF/HTML extraction,
 *     TTL/error arithmetic all happen per-row with zero extra shuffles.
 *  4. The step output is stored ONCE as a state leaf (row slabs) — every
 *     downstream consumer (frontier/host updates, fetch log, payload
 *     store, extracted text, trace, outlink candidates) scans it with
 *     zero-copy row reads, so the wide text/body columns are touched only
 *     by the consumers that need them.
 *  5. Returned are pure DELTAS (updates + inserts per table); the driver
 *     owns state as base+overlay+inserts (tables.DeltaState) — a round
 *     never rewrites any full table.
 *  6. Generated code is the same every round: the clock, the round number
 *     and the round's first trace sequence number reach it as data
 *     (`by_ref`, StepOut columns), never as literals, so a warm round
 *     reuses the classes Spark compiled for the rounds before it (see
 *     CodegenReuseSpec).
 *
 * Skew note (SURVEY §7.4): the scheduling groupByKey must stay unsalted
 * (politeness is per-host), but its groups are tiny by construction —
 * flatMapGroups folds to a single winner without buffering the group.
 * A mega-host with 10^7 pending URLs is pre-reduced by the
 * `next_fetch < now` pushdown and the fold; extraction/join stages key on
 * url (uniform hash), so the only skewed key never carries heavy payloads.
 */
object CrawlRound {

  /** Simulated-web row: pages (input_hint shape) ⋈ fetch_meta, flattened.
    * Carries the RAW response header block — status/type/redirect/Link are
    * parsed inside the fetch step (X7 in the dataflow, fetch.c:497-552). */
  final case class WebRow(
      url: String,
      warc_ts: Long,
      body: Array[Byte],
      headers_raw: String)

  /** fetch_log row (the cache sidecar's schedule-relevant fields —
    * reference JSON sidecar, libcrawl/p_libcrawl.h:47-75). */
  final case class CacheRow(url_hash: String, updated: Long, status: Int)

  /** Extracted-text output row (byte-identity contract per input_hint). */
  final case class ExtractedRow(url: String, text: String)

  /** S4: one stored payload (the reference cache's payload blob,
    * libcrawl/caches/disk.c:85-170 — committed iff the sidecar is). */
  final case class PageStoreRow(url_hash: String, url: String,
                                updated: Long, body: Array[Byte])

  /** One trace row with its A1 composite emission key and its round's
    * first sequence number; the global `seq` is derived lazily
    * (`seq_start` + rank within the round). */
  final case class TraceKeyed(round: Int, seq_start: Long, k1: Int, k2: Long,
                              k3: Long, k4: Int, url: String,
                              state_at_dequeue: String)

  /** A dequeued winner with its emission-order key flattened for sorting
    * (k5 is the url itself) and its host's robots.txt url ("" when the
    * robots gate is off). */
  final case class Pick(f: FrontierEntry, h: HostEntry,
                        k1: Int, k2: Long, k3: Long, k4: Int, k5: String,
                        robots_url: String)

  /** One host's robots.txt (url = <root>robots.txt). */
  final case class RobotsRow(url: String, body: Array[Byte])

  /** A pick with everything its fetch step reads, as flat left-join
    * columns: the web entry (`w_*`, all null when the url is not on the
    * web), the fetch_log row (`c_*`, null on a cache miss) and the host's
    * robots.txt body (null when absent or the gate is off). */
  final case class FetchIn(
      f: FrontierEntry, h: HostEntry,
      k1: Int, k2: Long, k3: Long, k4: Int,
      w_ts: Option[Long], w_body: Array[Byte], w_headers: String,
      c_updated: Option[Long], c_status: Option[Int],
      robots_body: Array[Byte])

  /** Everything one step produces: emission key + state updates + outputs.
    * Persisted as a flat DataFrame so consumers prune columns. */
  final case class StepOut(
      k1: Int, k2: Long, k3: Long, k4: Int,
      url: String,
      state_at_dequeue: String,
      newF: FrontierEntry,
      newH: HostEntry,
      commit: Boolean,
      /** Whether a fetch_log row already existed for this url (the J5 cache
        * join hit) — splits the log delta into replace-by-key updates vs
        * brand-new inserts without re-probing the table. */
      hadCache: Boolean,
      status: Int,
      text: Option[String],
      body: Option[Array[Byte]],
      outlinks: Seq[String],
      /** The round's clock, number and first trace sequence number,
        * carried as data so the delta projections read columns instead of
        * inlining per-round literals into the generated code. */
      now: Long,
      round: Int,
      seqStart: Long)

  /** Pure per-table DELTAS of one round (plans over the round-internal
    * leaves; the driver leafs + materializes them in one job and folds
    * them into its DeltaState/AppendState tables). */
  final case class RoundResult(
      picksCount: Long,
      fetchPhaseSec: Double,
      updatedFrontier: Dataset[FrontierEntry],
      newFrontier: Dataset[FrontierEntry],
      updatedHosts: Dataset[HostEntry],
      newHosts: Dataset[HostEntry],
      /** fetch_log rows replacing existing keys (cache hit → re-fetch). */
      logUpdates: Dataset[CacheRow],
      /** fetch_log rows for never-before-fetched keys (DeltaState insert
        * contract: the overlay must only ever replace existing keys —
        * first-fetch rows routed there would leave the tracked row count
        * at 0 and grow the overlay without bound). */
      logInserts: Dataset[CacheRow],
      pagesDelta: Dataset[PageStoreRow],
      extractedDelta: Dataset[ExtractedRow],
      trace: Dataset[TraceKeyed],
      /** Release the round-internal leaves — call AFTER materializing the
        * returned deltas. */
      cleanup: () => Unit)

  def webFromMap(spark: SparkSession,
                 web: Map[String, Step.WebEntry]): Dataset[WebRow] = {
    import spark.implicits._
    web.toSeq.sortBy(_._1).map { case (u, w) =>
      WebRow(u, w.warcTs, w.body, w.headersRaw)
    }.toDS()
  }

  /** S2 source shape: the simulated web assembled from the at-rest tables
    * — `pages` (input_hint shape) ⋈ `fetch_meta` (raw header envelope) on
    * url (SURVEY §2.1 S2, §2.4 J4). */
  def webFromTables(pages: Dataset[PageRow],
                    meta: Dataset[FetchMeta]): Dataset[WebRow] = {
    import pages.sparkSession.implicits._
    pages.joinWith(meta, pages("url") === meta("url"), "inner")
      .map { case (p, m) =>
        WebRow(p.url, p.warc_ts.getTime / 1000L, p.html, m.headers_raw)
      }
  }

  /** One row per host that serves a 200 robots.txt (the F-gate input). */
  def robotsFromWeb(spark: SparkSession,
                    web: Dataset[WebRow]): Dataset[RobotsRow] = {
    import spark.implicits._
    web.filter(_.url.endsWith("/robots.txt"))
      .flatMap { w =>
        val e = Step.WebEntry(w.warc_ts, w.body, w.headers_raw)
        if (e.status == 200) Iterator.single(RobotsRow(w.url, w.body))
        else Iterator.empty
      }
  }

  /**
   * Execute one round: runs the step job (materializing the step output
   * leaf, whose row count is the picks count) and returns the delta plans.
   */
  def run(
      spark: SparkSession,
      frontier: Dataset[FrontierEntry],
      hosts: Dataset[HostEntry],
      fetchLog: Dataset[CacheRow],
      seenKeys: Dataset[String],
      web: Dataset[WebRow],
      cfg: CrawlConfig,
      now: Long,
      round: Long,
      seqStart: Long,
      bloom: SeenFilter.SeenBloom,
      robotsCache: Option[Dataset[RobotsRow]] = None): RoundResult = {
    import spark.implicits._

    val bcCfg = spark.sparkContext.broadcast(cfg)
    val roundNo = round.toInt
    graft.functions.GraftFunctions.register(spark) // canon_key, by_ref
    // `now` reaches the generated code by reference, never as a literal:
    // a literal gives every round new Java source and a full recompile
    val nowCol = graft.functions.ByRef.col(spark, now)

    // --- 1. A1 dequeue --------------------------------------------------
    // Column-level filters: stay columnar over the cached state (pushdown
    // at 100TB scale = partition pruning on next_fetch); hosts filter
    // keeps only currently-eligible hosts so the join side stays minimal.
    val eligibleHosts = hosts
      .filter(col("rate") > 0 && col("earliest_update") < nowCol)
    val due = frontier.filter(col("next_fetch") < nowCol)

    // hosts ≪ frontier (1 row/host). No forced broadcast hint: a driver-built
    // broadcast of a large host table is a serial bottleneck — AQE sees the
    // (cached) actual sizes and picks broadcast-hash when the eligible-host
    // side is genuinely small, shuffle join when it isn't.
    val joined: Dataset[(FrontierEntry, HostEntry)] =
      due.joinWith(eligibleHosts,
        due("root_hash") === eligibleHosts("root_hash"), "inner")

    // Typed per-host top-1 (north_rule's groupByKey + flatMapGroups).
    // Fold, don't buffer: group size is unbounded (mega-hosts) but the
    // winner needs O(1) state. The winner also carries its robots join key.
    val robotsOn = cfg.robotsEnabled
    val picks: Dataset[Pick] = joined
      .groupByKey(_._1.root_hash)
      .flatMapGroups { (_, it) =>
        var best: (FrontierEntry, HostEntry) = null
        var bestKey: (Int, Long, String) = null
        it.foreach { fh =>
          val k = Step.hostKey(fh._1)
          if (best == null || Ordering[(Int, Long, String)].lt(k, bestKey)) {
            best = fh; bestKey = k
          }
        }
        val (f, h) = best
        val (k1, k2, k3, k4, k5) = Step.emitKey(f, h)
        val robotsUrl =
          if (!robotsOn) ""
          else Urls.canonicalRoot(f.url)
            .map(graft.functions.Robots.robotsUrl).getOrElse("")
        Iterator.single(Pick(f, h, k1, k2, k3, k4, k5, robotsUrl))
      }

    // --- 2. budget truncation (only a finite budget forces a sort) -------
    val budgetLeft = cfg.budget - seqStart
    val scheduled: Dataset[Pick] =
      if (budgetLeft >= Int.MaxValue) picks
      else picks.orderBy("k1", "k2", "k3", "k4", "k5")
        .limit(math.max(0L, budgetLeft).toInt)

    // --- 3. simulated fetch + process ------------------------------------
    // Columnar left joins against web, fetch_log and robots; the only typed
    // boundary is the step's mapPartitions (joinWith would wrap every side
    // in nested structs and the step would decode the whole nest).
    val webCols = web.select(col("url").as("w_url"), col("warc_ts").as("w_ts"),
      col("body").as("w_body"), col("headers_raw").as("w_headers"))
    val logCols = fetchLog.select(col("url_hash").as("c_hash"),
      col("updated").as("c_updated"), col("status").as("c_status"))
    val withCache = scheduled.toDF()
      .join(webCols, col("f.url") === col("w_url"), "left_outer")
      .join(logCols, col("f.url_hash") === col("c_hash"), "left_outer")
    // robots side: one row per host that HAS a robots.txt — small, AQE
    // broadcasts it; no join at all when the gate is off. The driver
    // passes a persisted cache so the derivation doesn't re-scan `web`
    // every round (robots.txt bodies change on day scales, not round
    // scales — in production this cache is the robots slice of the pages
    // table, refreshed by its own TTL).
    val withRobots =
      if (!robotsOn) withCache.withColumn("robots_body", lit(null).cast("binary"))
      else {
        val robotsDs = robotsCache.getOrElse(robotsFromWeb(spark, web))
        withCache.join(robotsDs.select(col("url").as("r_url"),
            col("body").as("robots_body")),
          col("robots_url") === col("r_url"), "left_outer")
      }
    val fetchIn: Dataset[FetchIn] = withRobots
      .select("f", "h", "k1", "k2", "k3", "k4", "w_ts", "w_body", "w_headers",
        "c_updated", "c_status", "robots_body")
      .as[FetchIn]

    val outs: Dataset[StepOut] = fetchIn.mapPartitions { it =>
      val cfg = bcCfg.value
      it.map { in =>
        val f = in.f
        val cached = in.c_updated.map(u => Step.CachedInfo(u, in.c_status.get))
        val wEntry = in.w_ts.map(ts =>
          Step.WebEntry(ts, in.w_body, in.w_headers))
        // A2 politeness advance at dequeue (db.c:762-790)
        val hAdvanced = Step.politenessAdvance(in.h, now)
        val res = Step.fetchAndProcess(f.url, f.state, now, cached,
          wEntry, cfg, Option(in.robots_body))
        val (newF, newH) = res.path match {
          case Step.Path.Updated | Step.Path.Failed =>
            (Step.frontierUpdated(f, now, res.status, res.ttlArg, res.state),
             Step.rootUpdated(hAdvanced, now))
          case Step.Path.Unchanged =>
            (Step.frontierUnchanged(f, now, error = false),
             Step.rootUnchanged(hAdvanced, now))
        }
        StepOut(in.k1, in.k2, in.k3, in.k4, f.url, f.state,
          newF, newH, res.commit, cached.isDefined, res.status,
          res.extractedText,
          if (res.commit) Some(wEntry.map(_.body)
            .getOrElse(Array.emptyByteArray)) else None,
          res.outlinks, now, roundNo, seqStart)
      }
    }

    // The step output fans out to 8 consumers — store it ONCE as a state
    // leaf (row slabs, zero-copy reads; OFF_HEAP when the session has an
    // off-heap pool, or the round's bulky rows fill the GC old generation).
    // A columnar cache would add a generated accessor class per distinct
    // column slice its consumers read. Every round-internal leaf is
    // released by the round's cleanup.
    val roundLeaves = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    def roundLeaf(df: DataFrame): DataFrame = {
      roundLeaves += graft.tables.StateLeaf.lazyLeaf(df)
      roundLeaves.last
    }
    val stepOuts = roundLeaf(outs.toDF())
    val t0 = System.nanoTime()
    val picksCount = graft.tables.StateLeaf.countRows(Seq(stepOuts)).head
    val fetchPhaseSec = (System.nanoTime() - t0) / 1e9

    // --- 4. state-update deltas (column-pruned reads of the cache) -------
    val updatedF = stepOuts.select($"newF.*").as[FrontierEntry]
    val updatedH = stepOuts.select($"newH.*").as[HostEntry]
    val commits  = stepOuts.filter(col("commit"))
    // the split is by_ref too: both halves then run one generated class
    def logRows(cacheHit: Boolean): Dataset[CacheRow] = commits
      .filter(col("hadCache").cast("long") ===
        graft.functions.ByRef.col(spark, if (cacheHit) 1L else 0L))
      .select($"newF.url_hash".as("url_hash"), col("now").as("updated"),
        col("status"))
      .as[CacheRow]
    val logUpdates = logRows(cacheHit = true)
    val logInserts = logRows(cacheHit = false)
    val pagesDelta = commits
      .select($"newF.url_hash".as("url_hash"), col("url"),
        col("now").as("updated"),
        coalesce(col("body"), lit(Array.emptyByteArray)).as("body"))
      .as[PageStoreRow]
    val extractedDelta = commits
      .filter(col("text").isNotNull)
      .select(col("url"), col("text"))
      .as[ExtractedRow]
    val trace = stepOuts
      .select(col("round"), col("seqStart").as("seq_start"), col("k1"),
        col("k2"), col("k3"), col("k4"), col("url"), col("state_at_dequeue"))
      .as[TraceKeyed]

    // --- 5. discovered URLs: canonicalize → seen-filter → insert ---------
    // canon_key is the native codegen'd canonicalize+hash: the outlink
    // stream (~15× the page count, the round's densest row stream) stays
    // columnar through canonicalize+hash+dedup with zero String
    // materialization on the already-canonical fast path
    // (functions/UrlKey.scala; parity pinned by UrlKeySpec, end-to-end by
    // the trace/seen-set suites).
    val candidates: Dataset[SeenFilter.Candidate] = stepOuts
      .select(explode(col("outlinks")).as("raw"))
      .select(expr("canon_key(raw)").as("ck"))
      .filter(col("ck").isNotNull)
      .select(col("ck.url_hash").as("url_hash"), col("ck.url").as("url"))
      .distinct() // url_hash ↔ url is one-to-one: a key-only hash aggregate
      .as[SeenFilter.Candidate]

    // The seen filter's level-2 output feeds two branches of one plan
    // (a leaf, so the cuckoo build runs once), then one typed step turns
    // each genuinely new url into its frontier row and its host row (a
    // leaf, because both deltas read it).
    val discovered = roundLeaf(SeenFilter
      .filterNew(spark, candidates, seenKeys, bloom, share = roundLeaf)
      .flatMap(c => Step.newFrontierEntryFromCanon(c.url, c.url_hash, now)
        .map(f => (f, Step.newHostEntry(c.url, now, bcCfg.value))))
      .toDF("f", "h"))

    val newEntries = discovered.select($"f.*").as[FrontierEntry]
    // a new host row is a function of its root: whole-row distinct
    val newHosts = discovered.filter(col("h").isNotNull).select($"h.*")
      .join(hosts.select("root_hash"), Seq("root_hash"), "left_anti")
      .distinct()
      .as[HostEntry]

    RoundResult(picksCount, fetchPhaseSec,
      updatedF, newEntries, updatedH, newHosts,
      logUpdates, logInserts, pagesDelta, extractedDelta, trace,
      cleanup = () => roundLeaves.foreach(graft.tables.StateLeaf.release))
  }
}
