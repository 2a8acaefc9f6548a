package graft.tables

import scala.concurrent.{ExecutionContext, Future}
import org.apache.spark.sql.{Column, Dataset, Encoder, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col, lit}

/**
 * One durable crawl table (frontier, hosts, fetch_log, extracted, pages):
 * its in-memory state plus what it has staged for the next snapshot
 * commit. Each table owns its snapshot name, key columns and COW bucket
 * column, and keeps the ORDERED parts it changed since the last checkpoint
 * (the order is the last-writer-wins priority the commit resolves keys by)
 * with the buckets those parts touch. A checkpoint ships the parts as the
 * table's [[SnapshotStore.CowDelta]] — references to already-materialized
 * deltas, no extra job — and the store merges them with ONLY the changed
 * buckets' previous files.
 *
 * A table changes only through its `fold` — a round, a seed, an mq
 * transition or a partition label alike: [[DeltaState.fold]] takes
 * updates and inserts, [[AppendState.fold]] one appended part. An
 * untracked table (a driver with no snapshot store) stages nothing, so it
 * holds no references to past round leaves.
 */
trait CrawlTable[T] {
  protected def spark: SparkSession
  protected implicit def enc: Encoder[T]
  /** Stage changes for snapshot commits? */
  protected def track: Boolean

  def name: String
  def keyCols: Seq[String]
  /** Int COW bucket of a row, over the table's columns. */
  def bucketCol: Column
  def view: Dataset[T]
  def needsCompaction: Boolean
  def compact(): Unit
  /** Replace the state with the table's content at `snap`. */
  def restore(store: SnapshotStore, snap: SnapshotStore.Snapshot): Unit
  /** Manifest metrics the table contributes to a commit. */
  def metrics: Map[String, Long] = Map.empty

  /** Add a counted insert leaf: new keys, or an appended part. */
  protected[tables] def addPart(part: Dataset[T], rows: Long): Unit

  private var pending: Vector[Dataset[T]] = Vector.empty
  private var pendingBuckets: Set[Int]    = Set.empty

  def hasPending: Boolean = pending.nonEmpty

  /** Stage materialized delta parts, in priority order, with the buckets
    * they touch. */
  private[tables] def stage(parts: Seq[Dataset[T]], buckets: Set[Int]): Unit =
    if (track) {
      pending ++= parts
      pendingBuckets ++= buckets
    }

  def cowDelta: SnapshotStore.CowDelta = SnapshotStore.CowDelta(
    pending.map(_.toDF().withColumn("bucket", bucketCol)), keyCols,
    pendingBuckets)

  def clearPending(): Unit = {
    pending = Vector.empty
    pendingBuckets = Set.empty
  }

  protected def readSnapshot(store: SnapshotStore,
                             snap: SnapshotStore.Snapshot): Dataset[T] =
    StateLeaf.eagerLeaf(
      store.readCow(spark, snap, name, enc.schema).as[T](enc))
}

/**
 * One change to a [[CrawlTable]], leafed but not yet applied: the update
 * leaf, the overlay leaf composed from it with the step that swaps it in,
 * and the insert leaf. The caller counts [[leaves]] in its one counting
 * job and hands the fold their counts and bucket sets ([[counted]]); then
 * [[insertRows]] and [[apply]] read them.
 */
final class Fold[T] private[tables] (table: CrawlTable[T], track: Boolean,
    update: Option[Dataset[T]], overlay: Option[(Dataset[T], Long => Unit)],
    val insert: Option[Dataset[T]]) {

  // untracked, the update leaf is not counted: the overlay reads it
  private val parts: Seq[(Option[Dataset[T]], Column)] = Seq(
    update.filter(_ => track) -> table.bucketCol,
    overlay.map(_._1) -> lit(0),
    insert -> table.bucketCol)
  private var counts: Seq[Option[(Long, Set[Int])]] = Nil

  /** The leaves to count, each with the column that buckets its rows. */
  def leaves: Seq[(Dataset[_], Column)] =
    parts.collect { case (Some(leaf), b) => (leaf, b) }

  /** Take the row count and bucket set of each of [[leaves]], in order. */
  def counted(c: Seq[(Long, Set[Int])]): Unit = {
    val it = c.iterator
    counts = parts.map(_._1.map(_ => it.next()))
  }

  def insertRows: Long = counts(2).fold(0L)(_._1)

  /** Swap the overlay in, add the size-coalesced insert part, and stage
    * the parts in priority order (update, then insert). */
  def apply(): Unit = {
    val Seq(u, o, n) = counts
    overlay.foreach(_._2(o.get._1))
    insert.foreach(i =>
      table.addPart(StateLeaf.sized(i, insertRows), insertRows))
    table.stage(update.toSeq ++ insert, (u ++ n).flatMap(_._2).toSet)
  }
}

/**
 * Incremental keyed-table state: an immutable materialized `base`, a
 * replace-by-key `overlay` (keys always of already-present rows), and
 * per-round disjoint `insert` deltas:
 *
 *   view = ((base ∪ inserts…) ⟕anti broadcast(overlay.keys)) ∪ overlay
 *
 * The anti-join is a broadcast-hash LeftAnti — a NARROW map over the
 * cached base, no shuffle — so reading the view never re-shuffles or
 * re-materializes the big table. Per-round maintenance materializes only
 * O(overlay + new rows), never O(table); the round-1 design (whole-table
 * localCheckpoint per round) rewrote the full frontier every round, which
 * at the 10^10-row target (SURVEY §6) is TBs of churn per round.
 *
 * Compaction folds everything into a fresh base when the overlay outgrows
 * its broadcast budget or the insert union gets wide — LSM-style
 * amortization, mirroring in memory the COW-bucket discipline
 * SnapshotStore applies on disk. The reference's equivalent is the DB's
 * row-level UPDATE/INSERT against indexed tables (db.c:944-1294): O(row)
 * per change, periodic page compaction handled by InnoDB.
 *
 * `rowsMetric` names the manifest metric that records the row count, so a
 * restore needs no counting job.
 */
final class DeltaState[T](
    protected val spark: SparkSession,
    val name: String,
    keyCol: String,
    val bucketCol: Column,
    rowsMetric: String,
    protected val track: Boolean)
    (implicit protected val enc: Encoder[T]) extends CrawlTable[T] {

  def keyCols: Seq[String] = Seq(keyCol)

  var base: Dataset[T]            = spark.emptyDataset[T](enc)
  var overlay: Dataset[T]         = spark.emptyDataset[T](enc)
  var inserts: Vector[Dataset[T]] = Vector.empty
  var baseRows    = 0L
  var overlayRows = 0L
  var insertRows  = 0L

  /** Total distinct keys (the overlay only replaces existing rows). */
  def rows: Long = baseRows + insertRows

  override def metrics: Map[String, Long] = Map(rowsMetric -> rows)

  private def allBaseAndInserts: Dataset[T] =
    StateLeaf.union(if (baseRows == 0 && inserts.nonEmpty) inserts
                    else base +: inserts)

  def view: Dataset[T] = {
    val all = allBaseAndInserts
    if (overlayRows == 0) all
    else all
      .join(broadcast(overlay.select(keyCol)), Seq(keyCol), "left_anti")
      .as[T](enc)
      .unionByName(overlay)
  }

  /** The key column across base+inserts — the full key set (the overlay
    * introduces no new keys). Columnar select: no row deserialization. */
  def keys: Dataset[String] = {
    import spark.implicits._
    allBaseAndInserts.select(col(keyCol).cast("string")).as[String]
  }

  /** The next overlay plan folding in an update delta. The fold leafs
    * it; the apply swaps it in via swapOverlay. */
  def composeOverlay(updates: Dataset[T]): Dataset[T] =
    if (overlayRows == 0) updates
    else overlay
      .join(broadcast(updates.select(keyCol)), Seq(keyCol), "left_anti")
      .as[T](enc)
      .unionByName(updates)

  /** Swap in a materialized overlay. Overlays are plan-truncated state
    * leaves ([[StateLeaf]]), and Dataset.unpersist is a no-op for them
    * (the blocks are RDD-level, never CacheManager entries) — the old
    * overlay's storage is reclaimed by the ContextCleaner once the new
    * overlay (which references it only through already-computed data, not
    * lineage) drops the last reference. */
  def swapOverlay(newOverlay: Dataset[T], n: Long): Unit = {
    overlay = newOverlay
    overlayRows = n
  }

  /** Record a materialized insert delta (keys disjoint from all existing
    * rows — guaranteed by the URL-seen filter / anti-joins upstream). */
  def addInserts(delta: Dataset[T], n: Long): Unit =
    if (n > 0) { inserts :+= delta; insertRows += n }

  /** Leaf one change on `ec`: its replace-by-key `update` rows and its
    * new-key `insert` rows. The overlay is composed from the update LEAF
    * once that is built, so its key scan runs the same generated class as
    * every other scan of the table's leaves; the insert leaf builds
    * concurrently. Nothing changes until the fold is applied. */
  def fold(update: Option[Dataset[T]], insert: Option[Dataset[T]])
          (implicit ec: ExecutionContext): Future[Fold[T]] = {
    val uF = Future(update.map(StateLeaf.deltaLeaf))
    val oF = uF.map(_.map { u =>
      // an empty overlay composes to the update leaf itself
      val o = composeOverlay(u)
      val leaf = if (o eq u) u else StateLeaf.deltaLeaf(o)
      (leaf, swapOverlay(leaf, _: Long))
    })
    val nF = Future(insert.map(StateLeaf.deltaLeaf))
    for (u <- uF; o <- oF; n <- nF) yield new Fold(this, track, u, o, n)
  }

  protected[tables] def addPart(part: Dataset[T], rows: Long): Unit =
    addInserts(part, rows)

  /** Replace everything with a materialized base (seed bulk-load, resume,
    * compaction). */
  def setBase(b: Dataset[T], n: Long): Unit = {
    overlay.unpersist()
    inserts.foreach(_.unpersist())
    base = b
    baseRows = n
    overlay = spark.emptyDataset[T](enc)
    inserts = Vector.empty
    overlayRows = 0L
    insertRows = 0L
  }

  def restore(store: SnapshotStore, snap: SnapshotStore.Snapshot): Unit = {
    val b = readSnapshot(store, snap)
    setBase(b, snap.metrics.getOrElse(rowsMetric, b.count()))
  }

  /** Compact when the overlay outgrows its broadcast budget (1M keys /
    * quarter of the base) or the insert union gets wide. */
  def needsCompaction: Boolean =
    inserts.size > 24 || overlayRows > math.max(1L << 20, baseRows / 4)

  /** Fold overlay+inserts into a fresh materialized base (O(table), paid
    * rarely — the LSM amortization). The coalesce re-bounds the partition
    * count the accumulated unions would otherwise carry forward. */
  def compact(): Unit = {
    val total = rows
    val par = spark.sparkContext.defaultParallelism
    val p = math.max(par.toLong,
      math.min(total / 200000L + 1L, par * 8L)).toInt
    val b = StateLeaf.eagerLeaf(view.coalesce(p))
    setBase(b, total)
  }
}

/**
 * Insert-mostly keyed table (extracted text, stored payloads): per-round
 * delta parts with last-writer-wins resolution on read (a FORCE refetch
 * re-extracts a url). Reads are rare — tests, `locate`, snapshot commits —
 * so the window shuffle never sits in the round's hot path; the round
 * itself only appends.
 */
final class AppendState[T](
    protected val spark: SparkSession,
    val name: String,
    keyCol: String,
    val bucketCol: Column,
    protected val track: Boolean)
    (implicit protected val enc: Encoder[T]) extends CrawlTable[T] {

  def keyCols: Seq[String] = Seq(keyCol)

  var base: Dataset[T]          = spark.emptyDataset[T](enc)
  var parts: Vector[Dataset[T]] = Vector.empty

  def view: Dataset[T] =
    if (parts.isEmpty) base
    else lastWriterWins((base +: parts).map(_.toDF()), keyCols).as[T](enc)

  def append(delta: Dataset[T]): Unit = parts :+= delta

  /** Leaf one appended part on `ec`; nothing changes until the fold is
    * applied. */
  def fold(part: Dataset[T])(implicit ec: ExecutionContext): Future[Fold[T]] =
    Future(new Fold(this, track, None, None, Some(StateLeaf.deltaLeaf(part))))

  protected[tables] def addPart(part: Dataset[T], rows: Long): Unit =
    append(part)

  def setBase(b: Dataset[T]): Unit = {
    parts.foreach(_.unpersist())
    base = b
    parts = Vector.empty
  }

  def restore(store: SnapshotStore, snap: SnapshotStore.Snapshot): Unit =
    setBase(readSnapshot(store, snap))

  def needsCompaction: Boolean = parts.size > 24

  def compact(): Unit = {
    val par = spark.sparkContext.defaultParallelism
    setBase(StateLeaf.eagerLeaf(view.coalesce(par * 2)))
  }
}
